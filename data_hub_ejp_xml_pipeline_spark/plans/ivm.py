"""Incremental view maintenance: an aggregate table kept current per
epoch at O(batch + groups) cost instead of an O(table) recompute.

The classic warehouse pattern on top of a CDC-maintained base table is a
downstream ``GROUP BY`` (rows and value totals per category). Recomputed
per epoch it rescans the whole base — at 100 TB that is the dominant
cost of the pipeline. Count and sum are *retractable* aggregates, so the
view can instead be maintained from the epoch's changelog alone:

* **new side** — every LWW-winning upsert adds ``(+1, +value)`` to its
  group;
* **old side** — the row each upsert/delete REPLACES (fetched from the
  pre-epoch base, file-pruned exactly like the merge's own touched-file
  read) adds ``(-1, -old_value)`` to its OLD group — which also handles
  rows that *move between groups*;
* the per-group deltas fold into a tiny totals table (one row per
  group) in a single ledgered :meth:`SnapshotTable.replace` — atomic,
  exactly-once, replay no-ops on the ledger.

Ordering contract (enforced by the pipeline wiring, mirrored from the
dedup-on-ingest states): :meth:`IncrementalAggState.apply` runs BEFORE
the base merge commits its epoch, so the old-side read always observes
the pre-epoch base. Crash anywhere converges: IVM committed + merge
crashed → replay no-ops IVM (ledger) and applies the merge; neither
committed → both apply. The stale-update guard mirrors the merge's
``s.lsn > t._lsn`` rule — a late batch winner the merge would ignore
contributes nothing here either.

Min/max are NOT retractable (a deleted max needs a group rescan to find
the runner-up) and are deliberately out of scope; maintain them with a
periodic recompute instead.

The reference pipeline has no incremental aggregates (its BigQuery
views rescan the tables each query); this is engine surface for the
100 TB tier, same family as dedup-on-ingest (plans/dedup_ingest.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_hub_ejp_xml_pipeline_spark.plans.dedup_ingest import _open_table
from data_hub_ejp_xml_pipeline_spark.schemas import LSN, OP
from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import (
    DELETED_COL,
    LSN_COL,
    CommitResult,
    SnapshotTable,
    cached,
)


def _totals_schema(group_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(group_col, T.StringType(), False),
            T.StructField("cnt", T.LongType(), True),
            T.StructField("total", T.DoubleType(), True),
        ]
    )


class IncrementalAggState:
    """``SELECT group, count(*), sum(value)`` over a CDC base table,
    maintained per epoch from the changelog.

    ``group_col`` — the payload column to group by (cast to string; null
    groups carry no signal and are excluded on both the add and the
    retract side, symmetrically). ``value_col`` — numeric payload column
    summed into ``total`` (nulls sum as 0, matching SQL ``sum``'s null
    skip while keeping ``cnt`` a plain row count).

    Zero-count groups are kept as stored rows (a ledgered ``replace``
    no-ops on an empty frame, so physically dropping the last group
    would strand stale totals); :meth:`read_totals` filters them, so the
    served view shrinks when a group empties.

    ``group_col``/``value_col`` are part of the state's IDENTITY
    (mirroring ``TokenDedupState.prefix_k``): totals accumulated over one
    column pair are meaningless continued over another, so both are
    persisted at the root on create, ADOPTED when reopening without
    arguments, and a conflicting explicit value raises.
    """

    _UNSET = object()

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        group_col: str | None = None,
        value_col=_UNSET,
        n_buckets: int = 4,
    ):
        import json as _json
        import os as _os

        self.spark = spark
        meta_path = _os.path.join(root, "ivm_meta.json")
        if _os.path.exists(meta_path):
            with open(meta_path) as fh:
                stored = _json.load(fh)
            if group_col is not None and group_col != stored["group_col"]:
                raise ValueError(
                    f"ivm state at {root} groups by {stored['group_col']!r}; "
                    f"reopening with group_col={group_col!r} would corrupt "
                    "the totals"
                )
            if (
                value_col is not IncrementalAggState._UNSET
                and value_col != stored["value_col"]
            ):
                raise ValueError(
                    f"ivm state at {root} sums {stored['value_col']!r}; "
                    f"reopening with value_col={value_col!r} would corrupt "
                    "the totals"
                )
            group_col, value_col = stored["group_col"], stored["value_col"]
        else:
            if group_col is None:
                raise ValueError("group_col is required when creating ivm state")
            if value_col is IncrementalAggState._UNSET:
                value_col = None
            _os.makedirs(root, exist_ok=True)
            with open(meta_path, "w") as fh:
                _json.dump({"group_col": group_col, "value_col": value_col}, fh)
        self.group_col = group_col
        self.value_col = value_col
        self.totals = _open_table(
            spark, root + "/totals", _totals_schema(group_col), group_col, n_buckets
        )

    def maintained_tables(self) -> dict[str, "SnapshotTable"]:
        """See :meth:`plans.scd2.Scd2State.maintained_tables`."""
        return {"ivm_totals": self.totals}

    # ------------------------------------------------------------- serve
    def read_totals(self) -> DataFrame:
        """Current view: one row per non-empty group."""
        return (
            self.totals.read()
            .filter(F.col("cnt") != 0)
            .select(self.group_col, "cnt", "total")
        )

    # ------------------------------------------------------------- apply
    def apply(
        self,
        reduced_batch: DataFrame,
        base: SnapshotTable,
        batch_id: int,
        inclusive_guard: bool = False,
    ) -> CommitResult:
        """Fold one epoch's LWW-reduced changelog (the same frame the
        base merge consumes, BEFORE that merge commits) into the totals.

        The old-side read is the base merge's own pruned target read
        (:meth:`SnapshotTable.touched_rows`), so it costs what the merge's
        target read costs — O(touched files), never a full base scan; the
        delta aggregation is O(batch); the totals rewrite is O(groups).

        ``inclusive_guard`` MUST match the base merge's setting: a
        replication feed (``changelog_between``) carries equal-LSN
        content changes the base applies with ``>=`` — the totals must
        retract the old row and add the new one for those too, or the
        view diverges permanently from the base.
        """
        if batch_id is None:
            raise ValueError(
                "IncrementalAggState.apply requires a monotone batch_id; "
                "without one the totals replace is not exactly-once"
            )
        replayed = self.totals.replayed(batch_id)
        if replayed is not None:
            return replayed
        key = base.manifest()["key"]
        grp = F.col(self.group_col).cast("string")
        val = (
            F.coalesce(F.col(self.value_col).cast("double"), F.lit(0.0))
            if self.value_col is not None
            else F.lit(0.0)
        )
        # the reduced batch feeds two jobs (the touched-rows key ranges and
        # the totals rewrite); callers are expected to pass a NARROW frame
        # (MergePipeline strips the payload), so the columnar cache is cheap
        with cached(reduced_batch) as reduced_batch:
            # tombstones MUST be read: their _lsn feeds the stale guard (a
            # late update against a deleted key would otherwise look like a
            # fresh insert here while the merge ignores it). Their
            # group/value are nulled so they never retract — a deleted row
            # contributes nothing to the view, and its retraction already
            # happened in the epoch that processed the delete.
            live = ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            old = base.touched_rows(reduced_batch).select(
                F.col(key),
                F.when(live, grp).alias("_old_grp"),
                F.when(live, val).alias("_old_val"),
                F.col(LSN_COL).alias("_old_lsn"),
            )
            new_lsn, old_lsn = F.col(LSN), F.col("_old_lsn")
            # mirror the merge's stale guard EXACTLY — including its
            # inclusive (>=) replication form: a winner the merge applies
            # must move the totals, one it ignores must not
            fresher = (new_lsn >= old_lsn) if inclusive_guard else (new_lsn > old_lsn)
            joined = reduced_batch.join(old, key, "left").filter(
                F.col("_old_lsn").isNull() | fresher
            )
            new_side = (
                joined.filter((F.col(OP) != "D") & grp.isNotNull())
                .select(grp.alias("_g"), F.lit(1).alias("_dc"), val.alias("_dv"))
            )
            old_side = (
                joined.filter(F.col("_old_grp").isNotNull())
                .select(
                    F.col("_old_grp").alias("_g"),
                    F.lit(-1).alias("_dc"),
                    (-F.col("_old_val")).alias("_dv"),
                )
            )
            deltas = (
                new_side.unionByName(old_side)
                .groupBy("_g")
                .agg(F.sum("_dc").alias("_dc"), F.sum("_dv").alias("_dv"))
            )
            current = self.totals.read().select(self.group_col, "cnt", "total")
            updated = (
                current.join(
                    deltas, current[self.group_col] == deltas["_g"], "full_outer"
                )
                .select(
                    F.coalesce(current[self.group_col], deltas["_g"]).alias(
                        self.group_col
                    ),
                    (
                        F.coalesce(F.col("cnt"), F.lit(0))
                        + F.coalesce(F.col("_dc"), F.lit(0))
                    ).alias("cnt"),
                    (
                        F.coalesce(F.col("total"), F.lit(0.0))
                        + F.coalesce(F.col("_dv"), F.lit(0.0))
                    ).alias("total"),
                )
            )
            # the replace's stats/lineage pre-pass would otherwise execute
            # the whole join pipeline (old-side read included) a second
            # time; the frame is O(groups) rows, so the cache is free
            with cached(updated) as updated:
                return self.totals.replace(updated, batch_id=batch_id)
