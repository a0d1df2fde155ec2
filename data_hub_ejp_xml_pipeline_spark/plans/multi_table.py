"""One WAL tail → many tables: route a mixed Debezium envelope stream by
``source.table`` and apply each table's changelog through its own
MergePipeline.

The reference runs this exact shape for its four entity types (one zip
stream → four BigQuery tables, ``dags/s3_xml_import_pipeline.py``;
``plans/entity_pipeline.py`` is the XML analog). The Debezium variant is
what a Postgres/MySQL connector actually emits: one topic-per-server (or
a merged firehose) carrying every table's envelopes.

Exactly-once across N tables WITHOUT a cross-table transaction: every
table commits the epoch under the SAME ``batch_id`` against its OWN
ledger, and the tables commit concurrently (``run_table_branches``). A
crash mid-epoch leaves any subset of tables committed; the replayed
epoch no-ops exactly those and applies the rest — convergence per table,
monotone, no coordination. (For an atomic all-tables-or-none boundary,
stage through ``operators/txn.py``.)

Scale shape: the raw batch is persisted ONCE and each table's branch is
a column filter over it (one materialization, N cheap scans). Routing,
schema drift and decode run on the calling thread in table order (so
``schemas`` and the wire-DLQ reject union are deterministic); each
table's reduce + merge then runs on its own driver thread through
MergePipeline's pinned plans. Undeclared or NULL table names land in the
``_unrouted`` quarantine counter rather than vanishing.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_hub_ejp_xml_pipeline_spark.plans.pipeline import (
    MergePipeline,
    run_table_branches,
)
from data_hub_ejp_xml_pipeline_spark.sources import debezium as dbz
from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import CommitResult


class MultiTablePipeline:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schemas: dict[str, T.StructType],
        keys: dict[str, str] | None = None,
        n_buckets: int = 16,
        lsn_source: str = "lsn",
        json_col: str = "value",
        pipeline_kwargs: dict[str, dict] | None = None,
        auto_evolve: bool = False,
        wire_dlq=None,
    ):
        """``schemas``: table name → payload schema (must contain that
        table's key column, default ``doc_id``, override per table via
        ``keys``). Each table lives at ``{root}/{table}``.

        ``pipeline_kwargs``: table name → extra :class:`MergePipeline`
        kwargs, so each routed table can carry its own sidecar states
        (``scd2_state=``, ``ivm_state=``, ``index_state=``,
        ``dlq_state=``, ``placeholder_cols=``, ...) — the production
        epoch is routing × drift × sidecars on ONE tailer, and this is
        where they compose (``tests/test_streaming_states.py`` pins the
        combination under crash/restart).

        ``auto_evolve``: run the upstream-DDL loop per epoch and per
        table — drifted top-level wire columns grow that table's payload
        schema (``sources.debezium.evolve_payload_schema``, bounded
        sample) before decode, and the table merge's create-or-evolve
        adds the column. Deterministic across crash/replay: a replayed
        epoch re-detects the same drift and re-evolves to the same
        schema; its merge then no-ops on the ledger.

        ``wire_dlq``: an optional :class:`plans.dlq.DlqState` receiving
        the DECODE-level quarantine (unparseable envelope, unknown op,
        null key, missing ordering value) with the raw wire bytes —
        create it with payload schema ``(tbl string, raw string)``. This
        is upstream of the per-table changelog DLQ (``dlq_state=`` in
        ``pipeline_kwargs``), which guards the post-decode contract."""
        if not schemas:
            raise ValueError("schemas must declare at least one table")
        self.spark = spark
        self.schemas = dict(schemas)
        self.json_col = json_col
        self.lsn_source = lsn_source
        self.auto_evolve = auto_evolve
        self.wire_dlq = wire_dlq
        keys = keys or {}
        pipeline_kwargs = pipeline_kwargs or {}
        self.pipes = {
            t: MergePipeline(
                spark,
                f"{root}/{t}",
                key=keys.get(t, "doc_id"),
                n_buckets=n_buckets,
                payload_schema=sch,
                **pipeline_kwargs.get(t, {}),
            )
            for t, sch in self.schemas.items()
        }

    def apply(self, envelopes: DataFrame, batch_id: int | None = None) -> CommitResult:
        """One epoch: route → decode → per-table reduce+merge, every
        table ledgered under the same ``batch_id``; the tables' reduce +
        merge branches run concurrently."""
        if batch_id is None:
            raise ValueError(
                "MultiTablePipeline.apply requires a batch_id — per-table "
                "exactly-once is keyed on it"
            )
        from pyspark.sql import functions as F

        raw = envelopes.persist()
        try:
            routed = dbz.route_envelopes(raw, self.schemas, json_col=self.json_col)
            unrouted = routed["_unrouted"].count()  # also materializes raw
            branches = {}
            rejects = []
            for t, pipe in self.pipes.items():
                sch = self.schemas[t]
                if self.auto_evolve:
                    evolved = dbz.evolve_payload_schema(
                        self.spark, routed[t], sch, json_col=self.json_col
                    )
                    if evolved is not sch:
                        self.schemas[t] = sch = evolved
                decoded = dbz.decode_envelopes(
                    routed[t],
                    sch,
                    key=pipe.key,
                    json_col=self.json_col,
                    lsn_source=self.lsn_source,
                )
                if self.wire_dlq is not None:
                    rejects.append(
                        dbz.quarantine(decoded).select(
                            F.lit(t).alias("tbl"),
                            F.col("_raw").alias("raw"),
                            F.col("_error").alias("reject_reason"),
                        )
                    )
                branches[t] = partial(
                    pipe.apply, dbz.changelog(decoded), batch_id=batch_id
                )
            per_table = run_table_branches(self.spark, branches)
            if self.wire_dlq is not None and rejects:
                allr = rejects[0]
                for r in rejects[1:]:
                    allr = allr.unionByName(r)
                self.wire_dlq.apply(allr, batch_id=batch_id)
        finally:
            raw.unpersist()
        results = per_table.values()

        def newest(field: str):
            return max((v for r in results if (v := getattr(r, field)) is not None),
                       default=None)

        return CommitResult(
            snapshot_id=",".join(
                f"{t}:{r.snapshot_id}" for t, r in sorted(per_table.items())
            ),
            version=-1,  # every table has its own
            applied=any(r.applied for r in results),
            rows_written=sum(r.rows_written for r in results),
            n_events=sum(r.n_events for r in results),
            # the stream's offset and freshness are the epoch's, over all tables
            max_event_ts=newest("max_event_ts"),
            max_lsn=newest("max_lsn"),
            per_table=per_table,
            unrouted=unrouted,
        )

    def final_state(self, table: str) -> DataFrame:
        return self.pipes[table].final_state()

    def verify(self, deep: bool = False) -> dict:
        """Routing-wide fsck: every routed table's
        :meth:`MergePipeline.verify` (base + its sidecar states + deep
        cross-state invariants), plus the wire DLQ's table. One call
        covers every durable artifact the kitchen-sink epoch touches."""
        out: dict = {
            "tables": {t: p.verify(deep=deep) for t, p in self.pipes.items()}
        }
        ok = all(v["ok"] for v in out["tables"].values())
        if self.wire_dlq is not None:
            for name, t in self.wire_dlq.maintained_tables().items():
                chk = t.verify(deep=deep)
                out[f"wire_{name}"] = chk
                ok = ok and chk["ok"]
        out["ok"] = ok
        return out
