"""Canonical schemas for the CDC engine.

``CHANGELOG_SCHEMA`` mirrors the reference's stream of full-row-image
upserts (S3 objects sorted by LastModified, reference
``utils/dags/airflow_s3_util_extension.py:101-138``; entity emission with
``modified_timestamp`` at ``ejp_manuscript_xml.py:472-546``), collapsed to
the north-rule shape: monotonic ``lsn`` + op + tokenized payload.

``TARGET_SCHEMA`` is exactly BASELINE.json's input_hint:
``(doc_id string, tokens array<int32>, n_tok int32, source string)``;
the engine appends ``_lsn`` (last applied LSN per key — the merge guard,
analog of the reference watermark in ``etl_state.py:26-76``).

The changelog contract is written down here once: every change event
carries its key, its payload and the ENVELOPE — ``lsn`` (its log
position: the per-key last-writer-wins order and the merge guard),
``op`` (insert/update/delete), ``offset`` and ``source_file`` (where it
sits in its source: the LWW tie-break and the lineage) and ``event_ts``
(its event time, for lag). The engine's sets of these names (the LWW
order, the columns a commit never writes, the names a payload never
promotes) are built from the constants below, and no envelope column
ever becomes a table column.
"""

from __future__ import annotations

from pyspark.sql import types as T

OP_INSERT = "I"
OP_UPDATE = "U"
OP_DELETE = "D"

LSN = "lsn"
OP = "op"
# the last-writer-wins order: max ``lsn``, ties broken by source position
LWW_ORDER = (LSN, "offset", "source_file")
ENVELOPE = frozenset((*LWW_ORDER, OP, "event_ts"))

CHANGELOG_FIELDS = [
    T.StructField(LSN, T.LongType(), False),
    T.StructField(OP, T.StringType(), False),
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
    T.StructField("n_tok", T.IntegerType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("source_file", T.StringType(), True),
    T.StructField("offset", T.LongType(), True),
    T.StructField("event_ts", T.TimestampType(), True),
]
CHANGELOG_SCHEMA = T.StructType(CHANGELOG_FIELDS)

TARGET_FIELDS = [
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
    T.StructField("n_tok", T.IntegerType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("_lsn", T.LongType(), False),
]
TARGET_SCHEMA = T.StructType(TARGET_FIELDS)

# columns of the final user-facing state (TARGET minus engine-internal)
FINAL_STATE_COLUMNS = ["doc_id", "tokens", "n_tok", "source"]
