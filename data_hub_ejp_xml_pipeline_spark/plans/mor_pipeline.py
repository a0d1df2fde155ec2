"""Merge-on-read ingest: group-commit for the COW merge.

The per-epoch copy-on-write MERGE pays a target scan + join + full
rewrite of touched files every microbatch. At high epoch rates the
classic fix (Hudi's deltacommit/compaction split, Iceberg's
merge-on-read) is to make the per-epoch durable step an APPEND — no
target read, no join — and amortize ONE real merge over K epochs:

* ``apply(batch, batch_id)`` — LWW-reduce the batch and blind-APPEND it
  (with its ``op`` and ``lsn``) to a **delta table**, exactly-once via
  the delta table's own batch-id ledger. Cost per epoch: one shuffle of
  the batch, zero target I/O.
* every ``k_compact`` epochs, ``compact()`` LWW-reduces the accumulated
  deltas across epochs and MERGEs them into the **base table** in one
  join, then truncates the delta table (metadata-only; ledger carries
  over so replayed epoch ids still no-op).
* ``final_state()`` serves the merge-on-read view in between: base
  tombstone-rows and delta rows are unioned as one changelog and
  LWW-reduced — a key's winner is its max-LSN row across both, so a
  stale delta (late replay older than what compaction already applied)
  can never resurrect old state.

Crash safety (pinned by tests/test_mor_pipeline.py):

* crash after an append → the delta table is durable and its ledger
  no-ops the replayed epoch; the view already includes the rows.
* crash after the compaction MERGE but before the truncate → on the next
  compact the same (or a higher) batch id re-merges the same deltas: the
  base ledger no-ops an identical id, and re-merged rows fail the
  ``s.lsn > t._lsn`` guard — idempotent either way.

The reference analog is its two-phase S3-staging load
(``dags/s3_xml_import_pipeline.py:286-297``: ETL writes JSONL batches to
S3, a separate task folds them into BigQuery) re-expressed as
table-format primitives with exactly-once on both phases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_hub_ejp_xml_pipeline_spark.operators.lww import reduce_latest
from data_hub_ejp_xml_pipeline_spark.plans.pipeline import PAYLOAD_SCHEMA
from data_hub_ejp_xml_pipeline_spark.schemas import LSN, OP
from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import (
    DELETED_COL,
    LSN_COL,
    CommitResult,
    SnapshotTable,
)


class MorPipeline:
    """Append-then-compact (merge-on-read) CDC ingest over two tables."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key: str = "doc_id",
        n_buckets: int = 16,
        k_compact: int = 4,
        payload_schema: T.StructType = PAYLOAD_SCHEMA,
        dedup_state=None,
        dlq_state=None,
        placeholder_cols: list[str] | None = None,
        placeholder: str | None = None,
    ):
        """``dedup_state``: an optional :class:`plans.dedup_ingest.
        TokenDedupState` — each epoch's per-key LWW-winning fingerprint
        (computed from the RAW rows) is checked against the persisted
        corpus state and appended to it (exact dedup-on-ingest for token
        payloads).

        ``dlq_state``: an optional :class:`plans.dlq.DlqState` — invalid
        events (null key/LSN, unknown op, inconsistent payload) are split
        off BEFORE the reduce/stage and quarantined with a reason
        (exactly-once, ledgered append per epoch).

        ``placeholder_cols`` / ``placeholder``: unchanged-TOAST resolution
        (``operators.partial``), same semantics as MergePipeline's — the
        residual fill reads the MERGE-ON-READ view (base ∪ staged deltas),
        so placeholders resolve against staged-but-uncompacted epochs too;
        only resolved rows ever reach the delta table. Incompatible with
        ``dedup_state`` (its fingerprints read raw column values)."""
        self.spark = spark
        self.key = key
        self.k_compact = k_compact
        self.dedup_state = dedup_state
        self.dlq_state = dlq_state
        if placeholder_cols and dedup_state is not None:
            raise ValueError(
                "placeholder_cols cannot compose with dedup_state: its "
                "fingerprints read raw column values and would observe "
                "unresolved placeholders"
            )
        self.placeholder_cols = list(placeholder_cols or [])
        from data_hub_ejp_xml_pipeline_spark.operators.partial import UNAVAILABLE

        self.placeholder = UNAVAILABLE if placeholder is None else placeholder
        delta_schema = T.StructType(
            list(payload_schema.fields) + [T.StructField("op", T.StringType(), True)]
        )
        if SnapshotTable.exists(root + "/base"):
            self.base = SnapshotTable(spark, root + "/base")
            # existing tables own their key (see MergePipeline)
            self.key = key = self.base.manifest()["key"]
            if SnapshotTable.exists(root + "/delta"):
                self.delta = SnapshotTable(spark, root + "/delta")
            else:
                # heal: a crash between the two creates below leaves the
                # base without its delta — recreate it (empty, no data
                # could have staged) instead of failing on first read.
                # Schema comes from the BASE's stored manifest, not the
                # constructor default: the table may have been created
                # with a custom payload and reopened without re-passing it
                base_payload = [
                    f for f in self.base.schema().fields
                    if f.name not in (LSN_COL, DELETED_COL)
                ]
                healed_schema = T.StructType(
                    base_payload + [T.StructField("op", T.StringType(), True)]
                )
                self.delta = SnapshotTable.create(
                    spark, root + "/delta", healed_schema, key=key,
                    n_buckets=self.base.manifest()["n_buckets"],
                )
        else:
            self.base = SnapshotTable.create(
                spark, root + "/base", payload_schema, key=key, n_buckets=n_buckets
            )
            self.delta = SnapshotTable.create(
                spark, root + "/delta", delta_schema, key=key, n_buckets=n_buckets
            )
        # staged-epoch count survives restarts: derived from the delta
        # table's manifest chain (applied appends since the last truncate),
        # not process-local state — otherwise a restart resets the counter
        # and up to 2*k_compact-1 epochs stage before compaction triggers
        self._since_compact = self._staged_epochs()
        if self._since_compact >= self.k_compact:
            self.compact()

    def _staged_epochs(self) -> int:
        """Applied append commits in the delta table since its last
        truncate (or creation) — O(staged epochs) tiny JSON reads."""
        v = self.delta.current_version()
        n = 0
        while v > 0:
            m = self.delta.manifest(v)
            if m.get("operation") == "truncate":
                break
            if m.get("operation") == "append":
                n += 1
            v -= 1
        return n

    # ------------------------------------------------------------- ingest
    def apply(self, changelog: DataFrame, batch_id: int | None = None) -> CommitResult:
        """Durable per-epoch step: reduce + APPEND to the delta table.
        Exactly-once rides the delta ledger; no base-table I/O.

        ``batch_id`` is REQUIRED (monotone per checkpoint, like merge):
        compaction derives its exactly-once id from the highest staged
        epoch id, so an id-less append would either crash the compactor
        (empty ledger) or — worse — stage rows under a STALE max id, making
        the base merge no-op as a replay while the truncate still discards
        them."""
        if batch_id is None:
            raise ValueError(
                "MorPipeline.apply requires a monotone batch_id — compaction's "
                "exactly-once id is derived from the staged epoch ids"
            )
        if self.dlq_state is not None:
            # FIRST: invalid events must reach neither the staged delta
            # nor the dedup state (see MergePipeline.apply)
            from data_hub_ejp_xml_pipeline_spark.operators.validate import (
                split_changelog,
            )

            changelog, rejects = split_changelog(changelog, key=self.key)
            self.dlq_state.apply(rejects, batch_id=batch_id)
        if self.placeholder_cols:
            from data_hub_ejp_xml_pipeline_spark.operators.partial import (
                fill_unavailable,
                reduce_latest_partial,
            )

            pre = reduce_latest_partial(
                changelog,
                key=self.key,
                cols=self.placeholder_cols,
                placeholder=self.placeholder,
            ).persist()
            try:
                # fill from the MOR view (base ∪ staged deltas): recent
                # epochs may still be staged-only; append() materializes
                # synchronously so the unpersist below is safe
                reduced = fill_unavailable(
                    pre, self, self.placeholder_cols,
                    placeholder=self.placeholder,
                )
                res = self.delta.append(reduced, batch_id=batch_id,
                                        stats_df=changelog)
            finally:
                pre.unpersist()
        else:
            reduced = reduce_latest(changelog, key=self.key)
            if self.dedup_state is not None:
                # fingerprint-then-reduce over the RAW batch (deleted keys'
                # winners never enter the corpus state); the dedup shuffle
                # carries fingerprints, not token payloads
                self.dedup_state.apply_changelog(changelog, batch_id=batch_id,
                                                 id_col=self.key)
            # raw batch feeds the stats/lineage pre-pass (narrow, no
            # reduce); the LWW reduce then executes exactly once, in the
            # append's write
            res = self.delta.append(reduced, batch_id=batch_id,
                                    stats_df=changelog)
        if res.applied:
            self._since_compact += 1
            if self._since_compact >= self.k_compact:
                self.compact()
        return res

    def compact(self) -> CommitResult | None:
        """Fold every staged delta epoch into the base with ONE merge, then
        truncate the delta table. Idempotent across crashes (see module
        docstring); a no-op when nothing is staged."""
        if not self.delta.manifest()["files"]:
            # nothing staged (the ledger may still hold pre-truncate ids —
            # those must keep no-opping replays, so they are NOT the guard)
            self._since_compact = 0
            return None
        # staged rows carry their event's lsn as the delta table's _lsn;
        # as ``lsn`` they are a changelog again
        staged = self.delta.read().withColumnRenamed(LSN_COL, LSN)
        ledger = self.delta.ledger()
        # one row per key across all staged epochs; the compaction's
        # exactly-once id is the highest staged epoch id (monotone)
        compact_id = max(int(b) for b in ledger)
        res = self.base.merge(
            reduce_latest(staged, key=self.key),
            batch_id=compact_id,
            stats_df=staged,
        )
        self.delta.truncate()
        self._since_compact = 0
        return res

    # --------------------------------------------------------------- read
    def verify(self, deep: bool = False) -> dict:
        """MOR fsck (``MergePipeline.verify`` parity): the base AND the
        staged-delta tables' :meth:`SnapshotTable.verify`, plus every
        attached state's tables. Deep adds the MOR-specific invariant the
        per-table check cannot see: the merge view must equal an
        independent LWW re-derivation over ``base ∪ delta`` raw rows —
        a delta row silently shadowed (or resurrecting) the wrong way
        shows up as a nonzero mismatch count."""
        from pyspark.sql import functions as F
        from pyspark.sql import Window as W

        out: dict = {
            "base": self.base.verify(deep=deep),
            "delta": self.delta.verify(deep=deep),
            "states": {},
        }
        for state in (self.dedup_state, self.dlq_state):
            if state is None:
                continue
            for name, t in state.maintained_tables().items():
                out["states"][name] = t.verify(deep=deep)
        ok = (
            out["base"]["ok"]
            and out["delta"]["ok"]
            and all(v["ok"] for v in out["states"].values())
        )
        if deep:
            key = self.key
            cols = [key, "_lsn"]
            delta_raw = self.delta.read(include_tombstones=True)
            # staged epochs carry deletes as op='D' CHANGELOG rows (the
            # compaction turns them into base tombstones later) — both
            # forms are dead for the view
            delta_dead = F.coalesce(F.col("_deleted"), F.lit(False)) | (
                (F.col("op") == "D")
                if "op" in delta_raw.columns
                else F.lit(False)
            )
            raw = (
                self.base.read(include_tombstones=True).select(
                    *cols, F.coalesce(F.col("_deleted"), F.lit(False)).alias("_d")
                ).unionByName(
                    delta_raw.select(*cols, delta_dead.alias("_d"))
                )
            )
            w = W.partitionBy(key).orderBy(F.col("_lsn").desc())
            want = (
                raw.withColumn("_rn", F.row_number().over(w))
                .filter((F.col("_rn") == 1) & ~F.col("_d"))
                .select(F.col(key).cast("string").alias("_k"),
                        F.col("_lsn").alias("_l"))
            )
            got = self.final_state().select(
                F.col(key).cast("string").alias("_k"),
                F.col("_lsn").alias("_l2"),
            )
            out["view_mismatches"] = (
                want.join(got, "_k", "full")
                .filter(
                    F.col("_l").isNull()
                    | F.col("_l2").isNull()
                    | (F.col("_l") != F.col("_l2"))
                )
                .count()
            )
            ok = ok and out["view_mismatches"] == 0
        out["ok"] = ok
        return out

    def final_state(self) -> DataFrame:
        """Merge-on-read view: base ∪ staged deltas as one changelog,
        LWW-reduced — correct between compactions, identical to the base
        after one. Read amplification is the staged-delta scan; that is
        the MOR trade and why ``k_compact`` bounds it.

        Columns come from the LIVE table schemas, not the constructor's
        payload: a column added (or widened) by schema evolution during
        staged epochs is visible in the view immediately —
        ``unionByName(allowMissingColumns=True)`` nulls it on whichever
        side hasn't evolved yet, exactly like the table's own
        explicit-schema reads of old files."""
        return self._merge_view(
            self.base.read(include_tombstones=True), self.delta.read()
        )

    def lookup(self, keys) -> DataFrame:
        """Point-lookup over the merge-on-read view: the rows for an
        explicit, bounded key set, correct between compactions. Both
        tables share the key and bucket layout, so the base AND the
        staged-delta side go through :meth:`SnapshotTable.lookup`'s
        bucket/range file pruning and driver-side Arrow read; the LWW
        reduce then runs over
        only the fetched rows — O(keys + staged matches), never a
        delta-table scan. Semantics: ``final_state().filter(key IN
        keys)``."""
        return self._merge_view(
            self.base.lookup(keys, include_tombstones=True),
            self.delta.lookup(keys),
        )

    def _merge_view(self, base: DataFrame, delta: DataFrame) -> DataFrame:
        """base ∪ delta → LWW winner per key, deletes filtered (shared by
        the full view and the point lookup; base must include tombstones
        so a base delete can outrank a stale staged row)."""
        base = base.withColumn(
            "op",
            F.when(F.coalesce(F.col(DELETED_COL), F.lit(False)), F.lit("D"))
            .otherwise(F.lit("U")),
        ).drop(DELETED_COL)
        latest = reduce_latest(
            base.unionByName(delta, allowMissingColumns=True)
            .withColumnRenamed(LSN_COL, LSN),
            key=self.key,
        )
        return (
            latest.filter(F.col(OP) != "D").drop(OP)
            .withColumnRenamed(LSN, LSN_COL)
        )
