"""Partial-update changelogs: unchanged-TOAST placeholder resolution.

Postgres keeps large values (text, bytea, json, arrays) in TOAST storage
and does NOT write them to the WAL when an UPDATE leaves them unchanged.
A logical-decoding CDC feed therefore emits *partial* update events: the
untouched column arrives as a well-known sentinel (Debezium renders it as
``__debezium_unavailable_value``), and the consumer must resolve it from
the row's previous state. The reference pipeline never sees this (its
changelog XML always carries full payloads — every ``etl_state`` write in
``/root/reference/ejp_xml_pipeline/etl/ejp_xml.py`` re-emits the whole
entity), but a binlog/WAL-tail ingest engine that drops these events on
the floor silently corrupts every TOASTed column, so the engine treats
resolution as a first-class merge concern.

Semantics (per key, events in LSN order):

* ``I`` sets the full row; ``D`` removes it; ``U`` overwrites exactly the
  columns that are not the placeholder.
* A placeholder column takes the most recent non-placeholder value
  written since the key's last ``I``/``D`` boundary — first from earlier
  events in the same batch, then (only when the batch contains NO
  boundary for the key, i.e. it is all-``U``) from the current table row.
* Values never leak across a boundary: after an in-batch ``D``, a later
  ``U``'s unresolved columns become NULL, not the pre-delete values; the
  pre-epoch table row is likewise never consulted once the batch itself
  contains an ``I`` or ``D`` for the key.

Scale shape: :func:`reduce_latest_partial` is ONE exchange on the key
(the window sort and the aggregation share it), same as the plain LWW
reduce; :func:`fill_unavailable` touches only the keys that still carry a
placeholder after the in-batch pass — through the manifest-pruned
:meth:`SnapshotTable.lookup` serve path when that set is bounded, else
one key-equi-join against the table scan. Neither is O(table) driver
work.

Explicit SQL ``NULL`` assignments are honored as real values (the
resolution condition treats NULL as "set to null", not "unavailable") —
only the sentinel string marks an unavailable value, mirroring the wire
format.

Delivery contract: resolution can only consult values that have ALREADY
arrived, so each key's events must reach the pipeline in non-decreasing
LSN order ACROSS epochs — the natural property of a WAL/binlog tail
(Debezium likewise requires an ordered topic for unchanged-TOAST
handling). Exact duplicates replayed later are harmless (the merge's LSN
guard drops their epoch's stale winner); a genuinely out-of-order older
event cannot retroactively fill a placeholder that was already resolved
to NULL (``tests/test_streaming_partial.py`` pins the ordered contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_hub_ejp_xml_pipeline_spark.operators.lww import _order_cols, _order_struct
from data_hub_ejp_xml_pipeline_spark.schemas import ENVELOPE, OP

# the engine's neutral sentinel; decode Debezium feeds with
# placeholder=DEBEZIUM_UNAVAILABLE to consume the wire value unchanged
UNAVAILABLE = "__unavailable__"
DEBEZIUM_UNAVAILABLE = "__debezium_unavailable_value"


def reduce_latest_partial(
    df: DataFrame,
    key: str = "doc_id",
    cols: list[str] | None = None,
    placeholder: str = UNAVAILABLE,
) -> DataFrame:
    """Collapse a partial-update changelog to one row per key.

    Like :func:`operators.lww.reduce_latest` (same winner, same schema,
    same single exchange) but every string column in ``cols`` is resolved
    per the module semantics instead of taken verbatim from the winner.
    A column the batch alone cannot resolve is emitted as ``placeholder``
    when the key's batch is boundary-free (so :func:`fill_unavailable`
    may consult the table) and as NULL otherwise (the boundary already
    invalidated any older value).
    """
    if cols is None:
        cols = [
            f.name
            for f in df.schema.fields
            if f.dataType.simpleString() == "string"
            and f.name != key
            and f.name not in ENVELOPE
        ]
    if not cols:
        raise ValueError("no resolvable string payload columns")
    order = _order_struct(df)
    # segment counter: +1 at every I/D, so rows after the key's last
    # boundary share the max segment id; boundary-free keys sit at 0
    w = (
        Window.partitionBy(key)
        .orderBy(*[F.col(c) for c in _order_cols(df)])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = F.sum(
        F.when(F.col(OP).isin("I", "D"), F.lit(1)).otherwise(F.lit(0))
    ).over(w)
    staged = df.withColumn("_seg", seg)

    payload = [c for c in df.columns if c != key]
    aggs = [
        F.max_by(F.struct(*payload), order).alias("_win"),
        F.max(F.col("_seg")).alias("_maxseg"),
    ]
    for c in cols:
        # a D event's payload must never be a fill source; NULL is a real
        # value (condition true), only the sentinel is skipped
        usable = (F.col(OP) != "D") & F.coalesce(
            F.col(c) != placeholder, F.lit(True)
        )
        aggs.append(
            F.max_by(
                F.struct(F.col("_seg").alias("s"), F.col(c).alias("v")),
                F.when(usable, order),
            ).alias(f"_last_{c}")
        )
    g = staged.groupBy(key).agg(*aggs)

    out = [F.col(key)]
    for c in payload:
        if c in cols:
            last = F.col(f"_last_{c}")
            # the struct is NULL only when NO usable row existed — an
            # explicit NULL value arrives as a non-null struct with v=NULL
            # and must NOT fall through to the unresolved branch
            resolved_ok = last.isNotNull() & (
                last.getField("s") == F.col("_maxseg")
            )
            unresolved = F.when(
                F.col("_maxseg") == 0, F.lit(placeholder)
            ).otherwise(F.lit(None).cast("string"))
            out.append(
                F.when(resolved_ok, last.getField("v"))
                .otherwise(unresolved)
                .alias(c)
            )
        else:
            out.append(F.col("_win").getField(c).alias(c))
    return g.select(*out)


def fill_unavailable(
    reduced: DataFrame,
    table,
    cols: list[str],
    placeholder: str = UNAVAILABLE,
    lookup_max_keys: int | None = None,
) -> DataFrame:
    """Resolve the placeholders :func:`reduce_latest_partial` left behind
    from the table's CURRENT (pre-epoch) rows.

    Only rows still carrying a placeholder join the table; everything
    else passes through untouched via a union-free left join (absent keys
    fill with NULL — there is no previous value to keep). Path choice:
    ONE bounded driver job collects at most ``lookup_max_keys + 1`` fill
    keys (default cap: the table's ``LOOKUP_MAX_KEYS``) — at or under the
    cap they go through the bucket/range-pruned, driver-side
    :meth:`SnapshotTable.lookup`, above it one equi-join against
    ``table.read()`` — O(batch + matched files), never O(table) on the
    driver.
    """
    # duck-typed fill source: a SnapshotTable (manifest/read/lookup) or a
    # merge-on-read pipeline (key/final_state/lookup) — both expose the
    # tombstone-filtered current rows, which is exactly what a fill may see
    key = table.manifest()["key"] if hasattr(table, "manifest") else table.key
    read_current = table.read if hasattr(table, "read") else table.final_state
    needs = F.lit(False)
    for c in cols:
        needs = needs | (F.col(c) == placeholder)
    needs = needs & (F.col(OP) != "D")
    fill_keys_df = reduced.filter(needs).select(key).distinct()
    if lookup_max_keys is not None:
        cap = lookup_max_keys
    else:
        from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import (
            SnapshotTable,
        )

        cap = getattr(table, "LOOKUP_MAX_KEYS", SnapshotTable.LOOKUP_MAX_KEYS)
    # ONE driver job decides the path AND fetches the key list: collect at
    # most cap+1 keys — cap+1 proves "too many for a point lookup" without
    # a separate count() round-trip on the hot foreachBatch path
    keys = [r[0] for r in fill_keys_df.limit(cap + 1).collect()]
    if not keys:
        return reduced
    if len(keys) <= cap:
        current = table.lookup(keys)
    else:
        current = read_current().join(
            fill_keys_df, on=key, how="left_semi"
        )
    cur = current.select(
        F.col(key), *[F.col(c).alias(f"_cur_{c}") for c in cols]
    )
    joined = reduced.join(cur, on=key, how="left")
    out = []
    for c in reduced.columns:
        if c in cols:
            out.append(
                F.when(F.col(c) == placeholder, F.col(f"_cur_{c}"))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            out.append(F.col(c))
    return joined.select(*out)
