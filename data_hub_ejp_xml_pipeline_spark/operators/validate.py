"""Changelog validation: split a CDC batch into valid events and rejects.

The reference quarantines unparseable XML inside its ETL step
(``ejp_xml_pipeline/transform_zip.py`` routes parse failures to an
"errors" output instead of failing the batch); the engine applies the
same policy one layer down, at the changelog boundary: an event that
cannot participate in the merge contract — no key, no LSN, an unknown
op, or a self-inconsistent payload — must not reach the LWW reduce,
where a null key would coalesce into a junk row and a null LSN would
poison the max-LSN guard. Rejects are routed to a dead-letter table
(:class:`plans.dlq.DlqState`) with a reason, never dropped silently.

All predicates are JVM column expressions evaluated in the scan stage —
the split adds no shuffle and no Python to the hot path; Catalyst pushes
the two complementary filters into the same cached/pushed-down read.

Reasons, first match wins (ordered by how fundamentally the event breaks
the contract):

* ``null_key`` — key column null or empty string;
* ``null_lsn`` — LSN null (the merge's ``s.lsn > t._lsn`` guard and the
  LWW tie-break are undefined without one);
* ``bad_op`` — op not in ``I``/``U``/``D`` (case-sensitive, like the
  merge itself);
* ``token_arity`` — payload self-inconsistent: a declared token count
  that contradicts the token array's length on a non-delete (only
  checked when BOTH columns exist in the schema; deletes carry no
  payload).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_hub_ejp_xml_pipeline_spark.schemas import LSN, OP

VALID_OPS = ("I", "U", "D")
REASON_COL = "reject_reason"


def reject_reason(
    df: DataFrame,
    key: str = "doc_id",
    tokens_col: str = "tokens",
    ntok_col: str = "n_tok",
) -> Column:
    """CASE expression: the first failed rule's reason, null when valid."""
    kc, lc, oc = F.col(key), F.col(LSN), F.col(OP)
    expr = F.when(kc.isNull() | (kc.cast("string") == ""), F.lit("null_key"))
    expr = expr.when(lc.isNull(), F.lit("null_lsn"))
    expr = expr.when(oc.isNull() | ~oc.isin(*VALID_OPS), F.lit("bad_op"))
    if tokens_col in df.columns and ntok_col in df.columns:
        expr = expr.when(
            (oc != "D")
            & F.col(ntok_col).isNotNull()
            & F.col(tokens_col).isNotNull()
            & (F.col(ntok_col) != F.size(tokens_col)),
            F.lit("token_arity"),
        )
    return expr.otherwise(F.lit(None).cast("string"))


def split_changelog(
    df: DataFrame,
    key: str = "doc_id",
    tokens_col: str = "tokens",
    ntok_col: str = "n_tok",
) -> tuple[DataFrame, DataFrame]:
    """``(valid, rejects)`` — rejects carry every original column plus
    ``reject_reason``; valid rows are byte-identical to the input (no
    added columns, so downstream plans are unchanged when nothing is
    invalid)."""
    reason = reject_reason(df, key, tokens_col, ntok_col)
    valid = df.filter(reason.isNull())
    rejects = df.withColumn(REASON_COL, reason).filter(F.col(REASON_COL).isNotNull())
    return valid, rejects
