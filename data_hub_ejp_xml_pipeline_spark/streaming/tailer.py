"""Structured Streaming changelog tailer with exactly-once epoch commits.

Replaces the reference's poll-sensor + serial-file ETL loop
(``dags/s3_xml_import_pipeline.py:255-278`` sensor; ``:149-170`` serial
loop; watermark state at ``etl_state.py:26-76``) with one streaming query:

* the **file source** is Spark's incremental listing + seen-files log —
  exactly the reference's ``LastModified > watermark`` scan (S1/F1);
* the **trigger** replaces the sensor poke loop (S3): ``availableNow``
  for replay/backfill, ``processingTime`` for tailing;
* **foreachBatch(batch_id)** is the unit of commit. The snapshot table's
  epoch ledger makes re-delivered batch_ids no-ops, closing the
  reference's crash-between-load-and-state duplicate-append hole
  (``etl.py:190-195``) — replay from any checkpoint converges to
  byte-identical table state;
* per-batch **metrics** (events applied, events/sec, lag) mirror the
  reference's log counters (``etl.py:174-176``,
  ``ejp_person_xml.py:239-255``) as structured rows, each with the
  commit's own record (``CommitResult.record``: phase times, files,
  rows and bytes written and carried) under ``"commit"``.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from data_hub_ejp_xml_pipeline_spark.schemas import CHANGELOG_SCHEMA


class ChangelogTailer:
    """Tail a changelog directory through a pipeline, exactly-once."""

    def __init__(
        self,
        spark: SparkSession,
        pipeline,
        metrics_path: str | None = None,
        fail_after_batches: int | None = None,  # test hook: simulated crash
        maintenance=None,
        maintenance_every: int = 8,
    ):
        """``pipeline``: any object with ``apply(batch_df, batch_id) ->
        CommitResult`` — ``plans.pipeline.MergePipeline`` (per-epoch reduce
        + COW merge), ``plans.mor_pipeline.MorPipeline`` (append-then-compact
        group commit), ``plans.multi_table.MultiTablePipeline``, …;
        exactly-once rides THAT pipeline's ledger, and the pipeline owns its
        reduce and merge configuration. ``metrics_path`` defaults to
        ``metrics.jsonl`` under the pipeline's ``base``/``table`` root; a
        duck-typed pipeline without either attribute must pass it.

        ``maintenance``: an optional :class:`plans.maintenance.
        MaintenancePolicy` run inside ``foreachBatch`` every
        ``maintenance_every`` APPLIED epochs — between commits, so the
        policy's single-owner verbs (compaction/expiry/vacuum) can never
        race the stream's own writer. Maintenance outcomes land in the
        metrics stream beside the apply row."""
        self.spark = spark
        self.pipeline = pipeline
        table = getattr(pipeline, "base", None) or getattr(pipeline, "table", None)
        if table is None and metrics_path is None:
            raise ValueError(
                "pipeline has no base/table attribute to derive "
                "metrics_path from — pass metrics_path= explicitly"
            )
        self.metrics_path = metrics_path or os.path.join(table.root, "metrics.jsonl")
        self.metrics: list[dict[str, Any]] = []
        self._fail_after = fail_after_batches
        self._batches_seen = 0
        self.maintenance = maintenance
        self.maintenance_every = max(1, maintenance_every)
        self._applied_since_maintenance = 0
        self._committed_max_lsn: int | None = None

    # ----------------------------------------------------------- foreachBatch
    def apply_epoch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._fail_after is not None and self._batches_seen >= self._fail_after:
            raise RuntimeError(f"simulated crash before applying batch {batch_id}")
        self._batches_seen += 1

        t0 = time.time()
        result = self.pipeline.apply(batch_df, batch_id=batch_id)
        if result.n_events == 0 and not result.applied:
            return  # empty batch (or already-applied epoch) — reference F4
        elapsed = max(time.time() - t0, 1e-9)
        row = {
            "batch_id": batch_id,
            "snapshot_id": result.snapshot_id,
            "applied": result.applied,
            "events_applied": result.n_events,
            "events_sec": result.n_events / elapsed,
            "lag_sec": (time.time() - result.max_event_ts.timestamp())
            if result.max_event_ts
            else None,
            # the engine's commit record (phase times, files/rows/bytes),
            # keyed by table for a multi-table epoch
            "commit": {t: r.record for t, r in result.per_table.items()}
            if result.per_table is not None
            else result.record,
        }
        dlq = getattr(self.pipeline, "dlq_state", None)
        if dlq is not None:
            # the DLQ counted this epoch's quarantined events during its
            # ledgered append — surface it beside the applied count so an
            # operator sees reject spikes in the same stream
            row["events_rejected"] = dlq.last_reject_count
        if self.maintenance is not None and result.applied:
            self._applied_since_maintenance += 1
            if result.max_lsn is not None:
                # the stream's own committed offset — vacuum's watermark
                # comes from here, not from zone-map derivation, when the
                # policy runs inside foreachBatch (the derived path would
                # read the post-merge manifest and is a fallback for
                # tables without _lsn stats)
                self._committed_max_lsn = (
                    result.max_lsn
                    if self._committed_max_lsn is None
                    else max(self._committed_max_lsn, result.max_lsn)
                )
            if self._applied_since_maintenance >= self.maintenance_every:
                self._applied_since_maintenance = 0
                row["maintenance"] = self.maintenance.run(
                    watermark_lsn=self._committed_max_lsn
                )
        self.metrics.append(row)
        if len(self.metrics) > 10_000:
            # metrics.jsonl is the durable record; the in-memory list is a
            # convenience tail and must not grow for the query's lifetime
            del self.metrics[: -5_000]
        line = json.dumps(row) + "\n"
        with open(self.metrics_path, "ab+") as fh:
            size = fh.seek(0, os.SEEK_END)
            if size:
                fh.seek(size - 1)
                if fh.read(1) != b"\n":
                    # a torn last line (crash mid-append) must not swallow
                    # this row: end it first
                    line = "\n" + line
            fh.write(line.encode())

    # ------------------------------------------------------------------ start
    def start(
        self,
        changelog_path: str,
        checkpoint_dir: str,
        schema=CHANGELOG_SCHEMA,
        available_now: bool = True,
        processing_time: str | None = None,
        max_files_per_trigger: int | None = None,
    ):
        """Start the streaming query over a directory of parquet changelog
        files. ``available_now`` drains the backlog and stops (replay
        mode); ``processing_time`` tails continuously."""
        reader = self.spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(changelog_path)

        return self.attach(
            stream,
            checkpoint_dir,
            available_now=available_now,
            processing_time=processing_time,
        )

    def attach(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
        processing_time: str | None = None,
    ):
        """Attach the exactly-once apply loop to ANY prepared streaming
        DataFrame in changelog shape — e.g. the zip-of-XML source
        (``sources.xml_zip.read_zip_entities(streaming=True)`` →
        ``entities_to_changelog``), a Kafka topic, or a rate source. This
        is the full reference pipeline (poll → parse → warehouse upsert)
        as ONE streaming query."""
        writer = stream.writeStream.foreachBatch(self.apply_epoch).option(
            "checkpointLocation", checkpoint_dir
        )
        # an EXPLICIT processing_time means "tail continuously" and must
        # win over the available_now default — otherwise the query would
        # silently drain once and stop
        if processing_time:
            writer = writer.trigger(processingTime=processing_time)
        elif available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(
        self, changelog_path: str, checkpoint_dir: str, **kwargs
    ) -> list[dict[str, Any]]:
        """Replay mode: drain everything available, wait, return metrics."""
        q = self.start(changelog_path, checkpoint_dir, available_now=True, **kwargs)
        q.awaitTermination()
        return self.metrics
