"""Batch facade: reduce → merge in one call (the fused single-stage plan).

The reference runs two Airflow tasks with an S3 JSONL hop between them
(``ETL_eJP_XML_To_S3_JSON`` → ``Load_S3_JSON_To_BQ``,
``dags/s3_xml_import_pipeline.py:286-297``); the engine fuses them into a
single DataFrame plan — parse → reduce → merge — with no intermediate
materialization (SURVEY.md §3.1 engine equivalent).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable, TypeVar

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from data_hub_ejp_xml_pipeline_spark.operators.lww import _order_cols, reduce_latest
from data_hub_ejp_xml_pipeline_spark.schemas import OP, TARGET_SCHEMA
from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import CommitResult, SnapshotTable

PAYLOAD_SCHEMA = T.StructType([f for f in TARGET_SCHEMA.fields if f.name != "_lsn"])

R = TypeVar("R")


def run_table_branches(
    spark: SparkSession, branches: dict[str, Callable[[], R]]
) -> dict[str, R]:
    """Run one epoch's per-table branches (reduce + ledgered merge)
    concurrently, one driver thread per table.

    Safe without coordination because every table has its own ledger,
    manifest CAS and data directories: a failed branch leaves the other
    tables' commits in place, and replaying the epoch under the same
    ``batch_id`` no-ops exactly the committed ones. Each thread inherits
    the caller's Spark local properties (job group, description — e.g. a
    streaming micro-batch's cancellable group) and tags.

    Waits for every branch before returning or raising, so no thread
    outlives the call; then raises the first failure in table order, or
    returns the results in table order."""
    if not branches:
        return {}
    wrap = inheritable_thread_target(spark)
    if wrap is spark:  # pinned-thread mode off: nothing to inherit
        wrap = lambda fn: fn  # noqa: E731
    with ThreadPoolExecutor(
        max_workers=len(branches), thread_name_prefix="table-branch"
    ) as pool:
        futures = {name: pool.submit(wrap(fn)) for name, fn in branches.items()}
    # leaving the block joined every thread
    return {name: fut.result() for name, fut in futures.items()}


class MergePipeline:
    """reduce_latest + SnapshotTable.merge, with create-if-missing."""

    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        key: str = "doc_id",
        n_buckets: int = 16,
        payload_schema: T.StructType = PAYLOAD_SCHEMA,
        files_per_bucket: int = 1,
        dedup_state=None,
        ivm_state=None,
        scd2_state=None,
        dlq_state=None,
        index_state=None,
        placeholder_cols: list[str] | None = None,
        placeholder: str | None = None,
        inclusive_guard: bool = False,
    ):
        """``dedup_state``: an optional :class:`plans.dedup_ingest.
        TokenDedupState` — each epoch's per-key LWW-winning fingerprint
        (computed from the RAW rows, payload never re-shuffled) is
        checked against the persisted corpus state and appended to it
        (exact dedup-on-ingest; requires batch ids).

        ``ivm_state``: an optional :class:`plans.ivm.IncrementalAggState`
        — a downstream GROUP BY maintained per epoch from the changelog
        (O(batch + groups), never a base rescan). Applied BEFORE the
        merge commits so its old-side read observes the pre-epoch base;
        requires batch ids (its totals rewrite is ledgered).

        ``scd2_state``: an optional :class:`plans.scd2.Scd2State` — a
        type-2 history table maintained per epoch from the same reduced
        changelog (every applied winner opens a version, the row it
        replaces is closed). Applied BEFORE the merge commits so its
        old-side read observes the pre-epoch base; requires batch ids.

        ``dlq_state``: an optional :class:`plans.dlq.DlqState` — events
        that cannot participate in the merge contract (null key/LSN,
        unknown op, inconsistent payload) are split off BEFORE any other
        consumer and quarantined with a reason (exactly-once, ledgered);
        requires batch ids.

        ``index_state``: an optional :class:`plans.secondary_index.
        SecondaryIndexState` — an inverted index (payload column → keys)
        maintained per epoch from a narrow reduce of the changelog.
        Applied BEFORE the merge commits so its close-side read observes
        the pre-epoch base; requires batch ids.

        ``placeholder_cols``: string payload columns that may arrive as an
        unchanged-TOAST placeholder (``operators.partial``). The epoch is
        reduced with :func:`reduce_latest_partial` and still-unresolved
        placeholders are filled from the pre-epoch table rows before the
        merge. Incompatible with ``ivm_state``/``index_state``/
        ``dedup_state`` (their narrow side-reduces would observe raw
        placeholder values); ``scd2_state``/``dlq_state`` compose fine —
        SCD2 consumes the already-resolved frame.

        ``inclusive_guard``: apply with ``s.lsn >= t._lsn`` instead of
        the strict guard — for REPLICATION consumers of
        :meth:`SnapshotTable.changelog_between` feeds, where row-level
        DML changes content without moving LSNs. Exactly-once then rides
        the ``batch_id`` ledger alone; never use it on a raw WAL tail
        (see ``SnapshotTable.merge``)."""
        self.inclusive_guard = inclusive_guard
        self.spark = spark
        self.dedup_state = dedup_state
        self.ivm_state = ivm_state
        self.scd2_state = scd2_state
        self.dlq_state = dlq_state
        self.index_state = index_state
        if SnapshotTable.exists(table_root):
            self.table = SnapshotTable(spark, table_root)
            # the TABLE's manifest key is authoritative for an existing
            # table — reducing on any other column would hand the merge an
            # un-reduced batch and fan out duplicate rows per key
            key = self.table.manifest()["key"]
        else:
            self.table = SnapshotTable.create(
                spark, table_root, payload_schema, key=key, n_buckets=n_buckets,
                files_per_bucket=files_per_bucket,
            )
        self.key = key
        if placeholder_cols and (
            dedup_state is not None
            or ivm_state is not None
            or index_state is not None
        ):
            raise ValueError(
                "placeholder_cols cannot compose with dedup/ivm/index "
                "states: their side-reduces read raw column values and "
                "would observe unresolved placeholders — resolve the "
                "feed upstream or attach the state to a separate pipeline"
            )
        self.placeholder_cols = list(placeholder_cols or [])
        from data_hub_ejp_xml_pipeline_spark.operators.partial import UNAVAILABLE

        self.placeholder = UNAVAILABLE if placeholder is None else placeholder

    def apply(self, changelog: DataFrame, batch_id: int | None = None) -> CommitResult:
        # sidecar commits are queued here and executed IN ORDER on ONE side
        # thread, overlapped with the base merge's write job; the merge's
        # pre-commit barrier joins the thread, so every sidecar is durably
        # committed BEFORE the base pointer advances (the crash contract:
        # base committed ⟹ all sidecars committed; replay no-ops the
        # ledgered side and applies the rest) while the epoch pays
        # max(base write, sidecar work) wall clock instead of the sum
        # (guide-§2.6 overlap: FIFO scheduling backfills straggler-idle
        # cores with the sidecar jobs).
        if batch_id is None and self._attached_states():
            raise ValueError(
                "attached states require a monotone batch_id — each state "
                "table commits exactly-once per epoch on its own ledger"
            )
        jobs: list = []
        if self.dlq_state is not None:
            # FIRST: invalid events must reach none of the downstream
            # consumers (a null key would coalesce into a junk LWW group,
            # a null lsn poisons the max-LSN guard). The split is two
            # complementary pushed-down predicates over the same scan —
            # no shuffle, no extra pass for the valid side.
            from data_hub_ejp_xml_pipeline_spark.operators.validate import (
                split_changelog,
            )

            changelog, rejects = split_changelog(changelog, key=self.key)
            jobs.append(
                lambda: self.dlq_state.apply(rejects, batch_id=batch_id)
            )
        if self.placeholder_cols:
            from data_hub_ejp_xml_pipeline_spark.operators.partial import (
                fill_unavailable,
                reduce_latest_partial,
            )

            # the partial reduce is consumed twice (fill-key count + the
            # fill join feeding the merge); cache it so the window+agg
            # executes once. merge() materializes synchronously, so the
            # unpersist after _apply_reduced is safe.
            pre = reduce_latest_partial(
                changelog,
                key=self.key,
                cols=self.placeholder_cols,
                placeholder=self.placeholder,
            ).persist()
            try:
                reduced = fill_unavailable(
                    pre,
                    self.table,
                    self.placeholder_cols,
                    placeholder=self.placeholder,
                )
                return self._apply_reduced(changelog, reduced, batch_id, jobs)
            finally:
                pre.unpersist()
        reduced = reduce_latest(changelog, key=self.key)
        return self._apply_reduced(changelog, reduced, batch_id, jobs)

    def _apply_reduced(
        self, changelog: DataFrame, reduced: DataFrame, batch_id: int | None,
        jobs: list,
    ) -> CommitResult:
        if self.dedup_state is not None:
            # fingerprint-then-reduce over the RAW batch: the dedup shuffle
            # carries (doc_id, lsn, fp, op) only — never the token payload,
            # and never a second execution of the merge's LWW reduce
            jobs.append(
                lambda: self.dedup_state.apply_changelog(
                    changelog, batch_id=batch_id, id_col=self.key
                )
            )
        if self.ivm_state is not None or self.index_state is not None:
            # BEFORE the merge: both states' old-side reads must observe
            # the pre-epoch base (crash between commits converges on
            # replay — ledgered sides no-op, the rest applies). They
            # consume ONE shared NARROW reduce (key + their columns + op/
            # lsn + tie-breaks) instead of the merge's full-payload
            # `reduced`: the LWW tie-break uses only metadata columns, so
            # the winners are identical, while the heavy payload (token
            # arrays) never enters their jobs — measured ~2x cheaper per
            # epoch at 1M events; with both attached the reduce shuffle
            # happens once, not twice
            narrow = [self.key]
            if self.ivm_state is not None:
                narrow.append(self.ivm_state.group_col)
                if self.ivm_state.value_col is not None:
                    narrow.append(self.ivm_state.value_col)
            if self.index_state is not None:
                narrow.append(self.index_state.index_col)
            narrow += [OP] + _order_cols(changelog)
            aux_reduced = reduce_latest(
                changelog.select(*dict.fromkeys(narrow)), key=self.key
            )
            both = self.ivm_state is not None and self.index_state is not None
            if both:
                # each state runs 2 jobs over the frame; cache here so
                # the states see it cached and skip their own persist
                # (unpersisted after the sidecar thread is joined below)
                aux_reduced = aux_reduced.persist()
            aux = aux_reduced
            # the sidecars must mirror the base merge's guard form
            # exactly — a replication feed's equal-LSN changes applied
            # by the base with >= would otherwise be silently skipped
            # here, diverging the maintained views permanently
            if self.ivm_state is not None:
                jobs.append(
                    lambda: self.ivm_state.apply(
                        aux, self.table, batch_id=batch_id,
                        inclusive_guard=self.inclusive_guard,
                    )
                )
            if self.index_state is not None:
                jobs.append(
                    lambda: self.index_state.apply(
                        aux, self.table, batch_id=batch_id,
                        inclusive_guard=self.inclusive_guard,
                    )
                )
        else:
            both = False
        if self.scd2_state is not None:
            # the history merge and the base merge consume the SAME
            # reduced frame; cache it so the LWW reduce still executes
            # once (Scd2State sees the cache and leaves its lifecycle to
            # this scope). BEFORE the base merge COMMITS: the close-side
            # read observes the pre-epoch base (the manifest pointer only
            # advances after the barrier joins this job).
            reduced = reduced.persist()
            jobs.append(
                lambda: self.scd2_state.apply(
                    reduced, self.table, batch_id=batch_id,
                    inclusive_guard=self.inclusive_guard,
                )
            )
            scd2_cached = True
        else:
            scd2_cached = False
        # the raw batch feeds the stats/lineage job (no reduce needed there),
        # so the LWW reduce executes exactly once — in the merge-write job
        # (the dedup path above reduces its own lightweight fingerprint
        # rows, never this payload reduce)
        if not jobs:
            return self.table.merge(
                reduced, batch_id=batch_id, stats_df=changelog,
                inclusive_guard=self.inclusive_guard,
            )
        box: dict = {}

        def _run_sidecars() -> None:
            try:
                for job in jobs:
                    job()
            except BaseException as exc:  # surfaced at the barrier / below
                box["error"] = exc

        # inherits the caller's local properties, so the sidecar jobs stay
        # in its job group (a plain Thread's jobs would leave it)
        th = InheritableThread(
            _run_sidecars, session=self.spark, name="sidecar-states",
            daemon=True,
        )
        th.start()

        def _barrier() -> None:
            th.join()
            if "error" in box:
                raise box["error"]

        try:
            result = self.table.merge(
                reduced, batch_id=batch_id, stats_df=changelog,
                inclusive_guard=self.inclusive_guard,
                pre_commit_hook=_barrier,
            )
        finally:
            # merge() skips the barrier on its early no-op paths (replayed
            # batch_id, empty batch) and on errors — the thread must be
            # joined on every path before caches are released
            th.join()
            if both:
                aux_reduced.unpersist()
            if scd2_cached:
                reduced.unpersist()
        if "error" in box:
            raise box["error"]
        return result

    def final_state(self) -> DataFrame:
        return self.table.read()

    def _attached_states(self):
        return [
            s for s in (self.dedup_state, self.ivm_state, self.scd2_state,
                        self.dlq_state, self.index_state)
            if s is not None
        ]

    def verify(self, deep: bool = False) -> dict:
        """Pipeline-wide fsck: the base table's :meth:`SnapshotTable.
        verify` plus every attached sidecar state's tables, and — with
        ``deep=True`` — the CROSS-state invariants the per-table check
        cannot see:

        * IVM totals equal a recompute over the base (one scan + one
          O(groups) join, float-tolerant);
        * SCD2's open versions are exactly the base's live ``(key,
          _lsn)`` set;
        * the secondary index's reduced live postings are exactly the
          base's live non-NULL ``(key, value)`` pairs.

        Reports, never mutates: ``{"ok", "base", "states",
        "consistency"}`` — a maintained view that silently diverged (the
        bug class the round-6 inclusive-guard fix closed) shows up here
        as a nonzero mismatch count instead of wrong query results three
        dashboards later."""
        from pyspark.sql import functions as F

        out: dict = {"base": self.table.verify(deep=deep), "states": {}}
        for state in self._attached_states():
            for name, t in state.maintained_tables().items():
                out["states"][name] = t.verify(deep=deep)
        ok = out["base"]["ok"] and all(
            v["ok"] for v in out["states"].values()
        )
        if deep:
            cons: dict = {}
            base = self.table.read()
            if self.ivm_state is not None:
                ivm = self.ivm_state
                recomputed = base.groupBy(
                    F.col(ivm.group_col).cast("string").alias("_g")
                ).agg(
                    F.count(F.lit(1)).alias("_cnt"),
                    F.sum(
                        F.coalesce(F.col(ivm.value_col).cast("double"),
                                   F.lit(0.0))
                    ).alias("_total"),
                )
                totals = ivm.read_totals().select(
                    F.col(ivm.group_col).alias("_g"),
                    F.col("cnt").alias("_cnt2"),
                    F.col("total").alias("_total2"),
                )
                cons["ivm_mismatches"] = (
                    recomputed.join(totals, "_g", "full")
                    .filter(
                        F.col("_cnt").isNull()
                        | F.col("_cnt2").isNull()
                        | (F.col("_cnt") != F.col("_cnt2"))
                        | (
                            F.abs(F.col("_total") - F.col("_total2"))
                            > F.lit(1e-6) * (F.abs(F.col("_total")) + 1)
                        )
                    )
                    .count()
                )
            if self.scd2_state is not None:
                cur = self.scd2_state.read_current().select(
                    F.col(self.key).cast("string").alias("_k"),
                    F.col("valid_from_lsn").alias("_l"),
                )
                live = base.select(
                    F.col(self.key).cast("string").alias("_k"),
                    F.col("_lsn").alias("_l2"),
                )
                cons["scd2_mismatches"] = (
                    cur.join(live, "_k", "full")
                    .filter(
                        F.col("_l").isNull()
                        | F.col("_l2").isNull()
                        | (F.col("_l") != F.col("_l2"))
                    )
                    .count()
                )
            if self.index_state is not None:
                idx = self.index_state
                pairs = idx._reduced(idx.postings.read()).select(
                    F.col(idx.key).cast("string").alias("_k"),
                    F.col("value").alias("_v"),
                )
                want = base.filter(F.col(idx.index_col).isNotNull()).select(
                    F.col(idx.key).cast("string").alias("_k"),
                    F.col(idx.index_col).cast("string").alias("_v2"),
                )
                cons["index_mismatches"] = (
                    pairs.join(want, "_k", "full")
                    .filter(
                        F.col("_v").isNull()
                        | F.col("_v2").isNull()
                        | (F.col("_v") != F.col("_v2"))
                    )
                    .count()
                )
            out["consistency"] = cons
            ok = ok and all(v == 0 for v in cons.values())
        out["ok"] = ok
        return out
