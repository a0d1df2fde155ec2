"""Incrementally-maintained secondary index: non-key column → keys.

The base CDC table serves point lookups by its key (bucket/range
pruning and a driver-side read in :meth:`SnapshotTable.lookup`); a
predicate on any OTHER
column is a full scan. This state maintains an inverted index —
``(index value, doc_id)`` postings — per epoch from the changelog, the
same maintenance family as the aggregate view (``plans/ivm.py``) and
the type-2 history (``plans/scd2.py``): O(batch + touched base files)
per epoch, never a base or index rescan. The reference has no index
analog (BigQuery scans); this is engine surface for the 100 TB tier,
where "all docs from source X" must not read the table.

Layout — LSM-style postings, bucketed BY VALUE (the ann-index trick,
``plans/ann_index.py:80-82``): the postings table's SnapshotTable key
is the (stringified) index value, so a value's postings land in ONE
hash bucket and a lookup reads only that bucket's files
(:meth:`SnapshotTable.lookup`'s pruning); the key is deliberately
non-unique, the table append-only:

* epoch winners append an OPEN posting ``(value, doc, lsn, live)``;
* the value they replace (read from the pre-epoch base, file-pruned
  exactly like the merge's own touched-file read) appends a TOMBSTONE
  posting; a winner whose value is unchanged appends nothing;
* the read path LWW-reduces postings per ``(value, doc)`` by LSN and
  drops tombstone winners — correctness never waits on compaction;
* :meth:`compact` folds postings to their reduced live form in ONE
  atomic ledgered :meth:`SnapshotTable.replace` (O(index) — a
  maintenance op, amortized like file compaction; the serve path's
  per-value reduce is tiny either way).

Exactly-once: the per-epoch append is ledgered; replaying an epoch
no-ops. The stale guard mirrors the merge's ``s.lsn > t._lsn`` rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
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

_VALUE_COL = "value"


def _posting_schema(key: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(_VALUE_COL, T.StringType(), True),
            T.StructField(key, T.StringType(), True),
            T.StructField("lsn", T.LongType(), True),
            # epoch of the append — the LSN tie-break. A replication feed
            # (inclusive guard) changes a key's value WITHOUT moving its
            # LSN, so equal-LSN postings are ordered by the monotone
            # batch_id that wrote them; within one epoch a (value, key)
            # pair appears at most once (close XOR open), so (lsn, seq)
            # is a total order. Strict-guard-era tables lack the column
            # (NULL seq reads; they never tie on lsn anyway).
            T.StructField("seq", T.LongType(), True),
            T.StructField("tombstone", T.BooleanType(), True),
        ]
    )


class SecondaryIndexState:
    """Inverted index on one payload column of a ``MergePipeline`` base.

    ``index_col`` — the payload column to index (cast to string for
    storage; a NULL value indexes nothing). Persisted at the root on
    create as the state's identity with the base key; adopted on
    reopen, a conflicting explicit column raises.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        index_col: str | None = None,
        key: str = "doc_id",
        n_buckets: int = 8,
    ):
        import json as _json
        import os as _os

        self.spark = spark
        meta_path = _os.path.join(root, "index_meta.json")
        if _os.path.exists(meta_path):
            with open(meta_path) as fh:
                stored = _json.load(fh)
            if index_col is not None and index_col != stored["index_col"]:
                raise ValueError(
                    f"index state at {root} indexes {stored['index_col']!r}; "
                    "reopening on a different column would mix postings of "
                    "two meanings"
                )
            index_col, key = stored["index_col"], stored["key"]
        else:
            if index_col is None:
                raise ValueError(
                    "index_col is required when creating index state"
                )
            _os.makedirs(root, exist_ok=True)
            with open(meta_path, "w") as fh:
                _json.dump({"index_col": index_col, "key": key}, fh)
        if key in (_VALUE_COL, "lsn", "tombstone"):
            raise ValueError(
                f"key column {key!r} collides with the postings table's "
                "own columns — the index stores (value, key, lsn, tombstone)"
            )
        self.index_col = index_col
        self.key = key
        self.postings = _open_table(
            spark, root + "/postings", _posting_schema(key), _VALUE_COL,
            n_buckets,
        )

    def maintained_tables(self) -> dict[str, "SnapshotTable"]:
        """See :meth:`plans.scd2.Scd2State.maintained_tables`. Physical
        file compaction + snapshot expiry only — the SEMANTIC postings
        fold (:meth:`compact`, a ledgered replace) stays an explicit,
        batch_id-carrying call."""
        return {"index_postings": self.postings}

    # ------------------------------------------------------------- serve
    def _reduced(self, postings: DataFrame) -> DataFrame:
        """Live ``(value, key)`` pairs: LWW per posting by (LSN, epoch),
        tombstone winners dropped. The epoch tie-break carries the
        inclusive-guard (replication) case where value changes arrive at
        an unmoved LSN; tombstone-last is a final deterministic shield
        for legacy NULL-seq rows."""
        if "seq" not in postings.columns:  # strict-guard-era table
            postings = postings.withColumn("seq", F.lit(None).cast("long"))
        w = W.partitionBy(_VALUE_COL, self.key).orderBy(
            F.col("lsn").desc(),
            F.col("seq").desc_nulls_last(),
            F.col("tombstone").desc(),
        )
        return (
            postings.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & ~F.col("tombstone"))
            .select(_VALUE_COL, self.key)
        )

    def read_index(self) -> DataFrame:
        """The whole live index — equals the base's ``(index_col, key)``
        projection (deletes excluded)."""
        return self._reduced(self.postings.read())

    def lookup(self, value) -> DataFrame:
        """Keys whose current ``index_col`` equals ``value``: the value's
        postings through :meth:`SnapshotTable.lookup` (only the files of
        its hash bucket whose key range holds it, read on the driver into
        a local relation), then reduced. O(bucket), independent of index
        size with uniform values."""
        if value is None:
            raise ValueError("NULL values are not indexed — nothing to look up")
        return self._reduced(self.postings.lookup([str(value)])).select(self.key)

    # ------------------------------------------------------------- apply
    def apply(
        self,
        reduced_batch: DataFrame,
        base: SnapshotTable,
        batch_id: int,
        inclusive_guard: bool = False,
    ) -> CommitResult:
        """Fold one epoch's LWW-reduced changelog into the postings —
        BEFORE the base merge commits the same epoch (the close side reads
        the pre-epoch base).

        ``inclusive_guard`` MUST match the base merge's setting: a
        replication feed carries equal-LSN value changes the base applies
        with ``>=`` — the postings record them too (tombstone the old
        value, open the new one, both at the unmoved LSN), ordered at
        read time by the epoch ``seq`` column. Raises on a
        strict-guard-era postings table (no ``seq``) because equal-LSN
        postings would be unorderable there."""
        if batch_id is None:
            raise ValueError(
                "SecondaryIndexState.apply requires a monotone batch_id; "
                "without one the postings append is not exactly-once"
            )
        has_seq = "seq" in {
            f.name for f in T.StructType.fromJson(
                self.postings.manifest()["schema"]
            ).fields
        }
        if inclusive_guard and not has_seq:
            raise ValueError(
                "inclusive_guard requires a postings table with the epoch "
                "'seq' column — this index was created by an older build; "
                "rebuild it (drop the state root and replay, or compact "
                "into a freshly-created state) before attaching it to a "
                "replication consumer"
            )
        replayed = self.postings.replayed(batch_id)
        if replayed is not None:
            return replayed
        key, vcol = self.key, self.index_col
        # two jobs consume the batch (the touched-rows key ranges and the
        # postings append); MergePipeline's shared narrow reduce arrives
        # cached and keeps its own lifecycle
        with cached(reduced_batch) as reduced_batch:
            # pre-epoch (key, old value, old lsn, liveness) for the batch's
            # keys, off the files the merge itself reads
            old = base.touched_rows(reduced_batch).select(
                F.col(key).cast("string").alias(key),
                F.col(vcol).cast("string").alias("_old_v"),
                F.col(LSN_COL).alias("_old_lsn"),
                (~F.coalesce(F.col(DELETED_COL), F.lit(False))).alias("_old_live"),
            )
            fresher = (
                (F.col("_lsn_new") >= F.col("_old_lsn"))
                if inclusive_guard
                else (F.col("_lsn_new") > F.col("_old_lsn"))
            )
            joined = (
                reduced_batch.select(
                    F.col(key).cast("string").alias(key),
                    F.col(vcol).cast("string").alias("_new_v"),
                    F.col(OP).alias("_op"),
                    F.col(LSN).alias("_lsn_new"),
                )
                .join(old, key, "left")
                # mirror the merge's stale guard (incl. its inclusive form)
                .filter(F.col("_old_lsn").isNull() | fresher)
            )
            old_live = F.coalesce(F.col("_old_live"), F.lit(False))
            unchanged = (F.col("_op") != "D") & F.col("_new_v").eqNullSafe(
                F.col("_old_v")
            )
            seq_cols = (
                [F.lit(batch_id).cast("long").alias("seq")] if has_seq else []
            )
            close = joined.filter(
                old_live & F.col("_old_v").isNotNull() & ~unchanged
            ).select(
                F.col("_old_v").alias(_VALUE_COL),
                F.col(key),
                F.col("_lsn_new").alias("lsn"),
                *seq_cols,
                F.lit(True).alias("tombstone"),
            )
            opens = joined.filter(
                (F.col("_op") != "D")
                & F.col("_new_v").isNotNull()
                & ~(unchanged & old_live)
            ).select(
                F.col("_new_v").alias(_VALUE_COL),
                F.col(key),
                F.col("_lsn_new").alias("lsn"),
                *seq_cols,
                F.lit(False).alias("tombstone"),
            )
            return self.postings.append(
                close.unionByName(opens), batch_id=batch_id
            )

    # ------------------------------------------------------------- maint
    def compact(self, batch_id: int | None = None) -> CommitResult:
        """Fold the postings to their reduced live form — ONE atomic
        ledgered :meth:`SnapshotTable.replace` (no crash window, replay
        no-ops). O(index size); run it like file compaction, on a cadence.
        The replace writes live postings only (tombstone=false), so a
        value's whole history collapses to its current membership."""
        read = self.postings.read()
        has_seq = "seq" in read.columns
        if not has_seq:
            read = read.withColumn("seq", F.lit(None).cast("long"))
        w = W.partitionBy(_VALUE_COL, self.key).orderBy(
            F.col("lsn").desc(),
            F.col("seq").desc_nulls_last(),
            F.col("tombstone").desc(),
        )
        seq_cols = ["seq"] if has_seq else []
        folded = (
            read
            .withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & ~F.col("tombstone"))
            .select(_VALUE_COL, self.key, "lsn", *seq_cols,
                    F.lit(False).alias("tombstone"))
        )
        return self.postings.replace(folded, batch_id=batch_id)
