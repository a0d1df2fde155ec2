"""SCD Type-2 history maintained per epoch from the CDC changelog.

The base CDC table (``SnapshotTable`` via ``MergePipeline``) keeps only
each key's LATEST row. A slowly-changing-dimension type-2 sink keeps
every version with a validity interval — the standard warehouse shape
for "what did this row look like when" queries and for training-data
snapshots pinned to a point in time. The reference pipeline truncates
and reloads its BigQuery tables (no history); this is engine surface
for the 100 TB tier, same family as incremental view maintenance
(``plans/ivm.py``).

Per epoch, from the SAME LWW-reduced changelog the base merge consumes
(and BEFORE that merge commits, so the pre-epoch base is readable):

* every applied upsert **opens** a version ``[lsn, null)`` flagged
  ``is_current``;
* the row it replaces (fetched from the pre-epoch base, file-pruned
  exactly like the merge's own touched-file read) is **closed**: its
  history row is rewritten with ``valid_to_lsn = new lsn`` and
  ``is_current = false``;
* an applied delete closes the open version and opens nothing.

History granularity is the epoch: one version per key per epoch (the
epoch's LWW winner), matching the base table's own visible states — the
history is exactly the sequence of states the base table ever served.
Intra-epoch intermediate events are reduced away on both sides, so the
DuckDB oracle (winner per key per epoch + ``lead`` over winners) is
bit-reproducible.

The history table is keyed by the surrogate ``doc_id '@' valid_from_lsn``
(zero-padded so string order equals numeric order within a key), merged
with the epoch's LSN — close and open land in ONE ledgered merge, atomic
and exactly-once; replaying an epoch no-ops on the ledger. The stale
guard mirrors the merge's ``s.lsn > t._lsn`` rule: a late winner the base
merge would ignore writes no history. Cost per epoch: O(touched base
files) + O(batch) — never a base or history rescan.
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

_SK_COL = "_sk"
# zero-pad width for the LSN half of the surrogate key: 19 digits holds
# any positive int64, keeping lexicographic order == numeric order
_LSN_PAD = 19


def _history_schema(key: str, payload: T.StructType) -> T.StructType:
    fields = [
        T.StructField(_SK_COL, T.StringType(), False),
        T.StructField(key, T.StringType(), True),
        T.StructField("valid_from_lsn", T.LongType(), True),
        T.StructField("valid_to_lsn", T.LongType(), True),
        T.StructField("is_current", T.BooleanType(), True),
    ]
    fields += [f for f in payload.fields if f.name != key]
    return T.StructType(fields)


def _surrogate(key: F.Column, lsn: F.Column) -> F.Column:
    """Injective for non-negative int64 LSNs: the encoded string always
    ends with '@' + exactly 19 digits, so (key, lsn) decodes uniquely
    even when the key itself contains '@' or digit runs."""
    return F.concat_ws("@", key.cast("string"),
                       F.lpad(lsn.cast("string"), _LSN_PAD, "0"))


class Scd2State:
    """Type-2 history sink attached to a ``MergePipeline`` base table.

    ``payload_schema`` — the base table's payload columns (key included or
    not; the key is always stored). Persisted at the root on create as the
    state's identity and adopted on reopen; a conflicting explicit schema
    raises (history rows written under one payload shape are meaningless
    continued under another).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        payload_schema: T.StructType | None = None,
        key: str = "doc_id",
        n_buckets: int = 8,
    ):
        import json as _json
        import os as _os

        self.spark = spark
        meta_path = _os.path.join(root, "scd2_meta.json")
        if _os.path.exists(meta_path):
            with open(meta_path) as fh:
                stored = _json.load(fh)
            stored_schema = T.StructType.fromJson(stored["payload_schema"])
            if payload_schema is not None and payload_schema != stored_schema:
                raise ValueError(
                    f"scd2 state at {root} was created with a different "
                    "payload schema; reopening with a conflicting schema "
                    "would corrupt the history"
                )
            if stored["key"] != key and payload_schema is not None:
                raise ValueError(
                    f"scd2 state at {root} is keyed by {stored['key']!r}"
                )
            payload_schema, key = stored_schema, stored["key"]
        else:
            if payload_schema is None:
                raise ValueError(
                    "payload_schema is required when creating scd2 state"
                )
            _os.makedirs(root, exist_ok=True)
            with open(meta_path, "w") as fh:
                _json.dump(
                    {"payload_schema": payload_schema.jsonValue(), "key": key},
                    fh,
                )
        self.key = key
        self.payload_schema = payload_schema
        self.payload_cols = [f.name for f in payload_schema.fields if f.name != key]
        # valid_from zone maps: an as-of read skips files whose whole
        # content opened AFTER the probe LSN (tight after a
        # cluster_by="valid_from_lsn" compaction)
        self.history = _open_table(
            spark, root + "/history", _history_schema(key, payload_schema),
            _SK_COL, n_buckets, stats_cols=["valid_from_lsn"],
        )

    def maintained_tables(self) -> dict[str, SnapshotTable]:
        """Durable tables this state owns — the maintenance protocol
        (``plans.maintenance.MaintenancePolicy(states=...)`` compacts
        files and expires snapshots on each; content-preserving, so it
        needs no batch_id and never touches semantics)."""
        return {"scd2_history": self.history}

    # ------------------------------------------------------------- serve
    def read_history(self) -> DataFrame:
        """All versions: one row per (key, applied epoch-winner)."""
        return self.history.read().drop(_SK_COL)

    def read_current(self) -> DataFrame:
        """Open versions only — equals the base table's live rows."""
        return self.read_history().filter("is_current")

    def read_as_of(self, lsn: int) -> DataFrame:
        """Rows valid AT ``lsn``: ``valid_from <= lsn < valid_to``. The
        scan prunes files via the ``valid_from_lsn`` zone maps (a file
        whose every version opened after ``lsn`` cannot contribute); the
        open-interval side can't prune (nulls), so the residual filter
        carries it."""
        return self.history.read_range(
            "valid_from_lsn", None, lsn
        ).drop(_SK_COL).filter(
            F.col("valid_to_lsn").isNull() | (F.col("valid_to_lsn") > F.lit(lsn))
        )

    # ------------------------------------------------------------- apply
    def apply(
        self,
        reduced_batch: DataFrame,
        base: SnapshotTable,
        batch_id: int,
        inclusive_guard: bool = False,
    ) -> CommitResult:
        """Fold one epoch's LWW-reduced changelog into the history —
        BEFORE the base merge commits the same epoch.

        ``inclusive_guard`` MUST match the base merge's setting. On a
        replication feed an equal-LSN content change (row-level DML on
        the source moves content, not LSNs) is applied by the base with
        ``>=``; history cannot represent two versions at one LSN, so the
        OPEN version at that LSN is corrected IN PLACE (same surrogate
        key, the history merge itself runs inclusive) and no close row
        is written — the out-of-band correction rewrites the version it
        corrected, exactly like the base row."""
        if batch_id is None:
            raise ValueError(
                "Scd2State.apply requires a monotone batch_id; without one "
                "the history merge is not exactly-once"
            )
        replayed = self.history.replayed(batch_id)
        if replayed is not None:
            return replayed
        key = base.manifest()["key"]
        # two jobs read the batch (the touched-rows key ranges + the history
        # merge); MergePipeline passes it cached, so the base merge reuses
        # the same cache
        with cached(reduced_batch) as reduced_batch:
            # the pre-epoch base rows for the batch's keys: payload + _lsn +
            # liveness, off the files the merge itself reads
            live = ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            old = base.touched_rows(reduced_batch).select(
                F.col(key),
                F.col(LSN_COL).alias("_old_lsn"),
                live.alias("_old_live"),
                *[F.col(c).alias(f"_old_{c}") for c in self.payload_cols],
            )
            new_lsn, old_lsn = F.col(LSN), F.col("_old_lsn")
            fresher = (new_lsn >= old_lsn) if inclusive_guard else (new_lsn > old_lsn)
            joined = (
                reduced_batch.join(old, key, "left")
                # mirror the merge's stale guard (incl. its inclusive
                # replication form): a winner the base merge ignores
                # writes no history either
                .filter(F.col("_old_lsn").isNull() | fresher)
            )
            kc = F.col(key).cast("string")
            # close: the replaced LIVE row, interval sealed at the new lsn.
            # Tombstoned old rows have _old_live = false — their close
            # happened in the epoch that processed the delete. Equal-LSN
            # UPSERT winners (inclusive mode only) close nothing: the open
            # version at that LSN is rewritten in place by the opens side
            # below (same surrogate). An equal-LSN DELETE winner (a
            # replication feed's rendering of delete_where — the tombstone
            # keeps the row's LSN) opens nothing, so the in-place rewrite
            # must come from THIS side: the open version at that LSN is
            # rewritten as closed at its own LSN (same surrogate,
            # is_current = false, the deliberately-empty [lsn, lsn)
            # interval — the FINAL state at that LSN excludes the row, and
            # an as-of read at it must agree with the base). Without it the
            # base tombstones the row while the history's open version
            # stays current forever.
            seal = (F.col("_old_live") == F.lit(True)) & (new_lsn > old_lsn)
            if inclusive_guard:
                seal = seal | (
                    (F.col("_old_live") == F.lit(True))
                    & (new_lsn == old_lsn)
                    & (F.col(OP) == F.lit("D"))
                )
            close = joined.filter(seal).select(
                _surrogate(kc, F.col("_old_lsn")).alias(_SK_COL),
                kc.alias(key),
                F.col("_old_lsn").alias("valid_from_lsn"),
                F.col(LSN).alias("valid_to_lsn"),
                F.lit(False).alias("is_current"),
                *[F.col(f"_old_{c}").alias(c) for c in self.payload_cols],
                F.lit("U").alias(OP),
                F.col(LSN),
            )
            opens = joined.filter(F.col(OP) != "D").select(
                _surrogate(kc, F.col(LSN)).alias(_SK_COL),
                kc.alias(key),
                F.col(LSN).alias("valid_from_lsn"),
                F.lit(None).cast("long").alias("valid_to_lsn"),
                F.lit(True).alias("is_current"),
                *self.payload_cols,
                F.lit("U").alias(OP),
                F.col(LSN),
            )
            rows = close.unionByName(opens)
            # ONE ledgered merge: close + open are atomic; crash before the
            # commit leaves no trace, replay after it no-ops on the ledger.
            # Inclusive mode rides through: the equal-LSN in-place rewrite of
            # an open version needs the history merge's own guard relaxed too.
            return self.history.merge(rows, batch_id=batch_id,
                                      inclusive_guard=inclusive_guard)
