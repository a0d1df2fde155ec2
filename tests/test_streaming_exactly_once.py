"""Streaming tailer: availableNow replay, crash/restart exactly-once,
byte-identical state after replay (SURVEY.md §7 M4; north-rule invariant)."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from data_hub_ejp_xml_pipeline_spark.oracle import (
    assert_final_state_equal,
    expected_final_state_pandas,
)
from data_hub_ejp_xml_pipeline_spark.plans.pipeline import PAYLOAD_SCHEMA, MergePipeline
from data_hub_ejp_xml_pipeline_spark.streaming.tailer import ChangelogTailer
from data_hub_ejp_xml_pipeline_spark.table import SnapshotTable

N_FILES = 6


@pytest.fixture()
def changelog_dir(tmp_path, changelog_pdf):
    """Changelog split into N parquet files with ascending mtimes (the file
    source processes in mtime order — the reference's LastModified sort)."""
    from data_hub_ejp_xml_pipeline_spark.generator import write_changelog_files

    d = str(tmp_path / "changelog")
    write_changelog_files(changelog_pdf, d, N_FILES)
    return d


def _state_hash(table):
    return (
        table.read()
        .selectExpr("sum(pmod(xxhash64(doc_id, _lsn, n_tok, source), 1000000007)) h")
        .first()
        .h
    )


def _final_pdf(table):
    return table.read().selectExpr("doc_id", "tokens", "n_tok", "source", "_lsn").toPandas()


def test_available_now_replay_matches_oracle(spark, tmp_path, changelog_dir, changelog_pdf):
    table = SnapshotTable.create(spark, str(tmp_path / "tbl"), PAYLOAD_SCHEMA, n_buckets=8)
    tailer = ChangelogTailer(spark, MergePipeline(spark, table.root))
    metrics = tailer.run_to_completion(
        changelog_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2
    )
    assert len(metrics) >= 2, "expected multiple microbatches"
    assert_final_state_equal(_final_pdf(table), expected_final_state_pandas(changelog_pdf))
    assert all(m["events_sec"] > 0 for m in metrics)
    assert os.path.exists(tailer.metrics_path)


def test_crash_restart_is_exactly_once_and_byte_identical(
    spark, tmp_path, changelog_dir, changelog_pdf
):
    """Crash mid-stream, restart from the same checkpoint: every epoch is
    applied exactly once and the final state is byte-identical to an
    uninterrupted run."""
    ckpt = str(tmp_path / "ckpt")
    table = SnapshotTable.create(spark, str(tmp_path / "tbl"), PAYLOAD_SCHEMA, n_buckets=8)

    crashing = ChangelogTailer(
        spark, MergePipeline(spark, table.root), fail_after_batches=2
    )
    q = crashing.start(changelog_dir, ckpt, max_files_per_trigger=1)
    with pytest.raises(Exception):
        q.awaitTermination()

    applied_before = {m["batch_id"] for m in crashing.metrics if m["applied"]}
    assert applied_before, "some batches applied before the crash"

    # restart from checkpoint — Spark re-delivers the failed epoch
    tailer2 = ChangelogTailer(spark, MergePipeline(spark, table.root))
    tailer2.run_to_completion(changelog_dir, ckpt, max_files_per_trigger=1)
    replayed_noops = [m for m in tailer2.metrics if not m["applied"]]
    assert len([m for m in tailer2.metrics if m["applied"]]) + len(applied_before) >= N_FILES
    del replayed_noops

    assert_final_state_equal(_final_pdf(table), expected_final_state_pandas(changelog_pdf))

    # uninterrupted control run → identical state hash
    table2 = SnapshotTable.create(spark, str(tmp_path / "tbl2"), PAYLOAD_SCHEMA, n_buckets=8)
    ChangelogTailer(spark, MergePipeline(spark, table2.root)).run_to_completion(
        changelog_dir, str(tmp_path / "ckpt2"), max_files_per_trigger=2
    )
    assert _state_hash(table) == _state_hash(table2)

    # ledger: every applied batch_id exactly once
    ledger = table.ledger()
    assert len(ledger) == len(set(ledger))


def test_second_replay_from_scratch_checkpoint_is_noop_state(
    spark, tmp_path, changelog_dir, changelog_pdf
):
    """Re-running the whole stream with a FRESH checkpoint against the same
    table must not corrupt state (max-LSN guard absorbs every replayed
    event)."""
    table = SnapshotTable.create(spark, str(tmp_path / "tbl"), PAYLOAD_SCHEMA, n_buckets=8)
    ChangelogTailer(spark, MergePipeline(spark, table.root)).run_to_completion(
        changelog_dir, str(tmp_path / "c1")
    )
    h1 = _state_hash(table)
    # note: fresh checkpoint → new batch_ids → ledger does NOT dedupe; the
    # LSN guard must do the work
    ChangelogTailer(spark, MergePipeline(spark, table.root)).run_to_completion(
        changelog_dir, str(tmp_path / "c2")
    )
    assert _state_hash(table) == h1
    assert_final_state_equal(_final_pdf(table), expected_final_state_pandas(changelog_pdf))


def test_schema_evolution_mid_stream(spark, tmp_path, changelog_pdf):
    """Files after a cutover add a `lang` column (FIXTURES.md §4) — the
    streaming read uses the evolved schema; old rows get null."""
    from data_hub_ejp_xml_pipeline_spark.generator import write_changelog_files

    d = tmp_path / "changelog"
    n = len(changelog_pdf)
    # old files lack the column entirely; the evolved read schema fills null
    first, second = changelog_pdf.iloc[: n // 2], changelog_pdf.iloc[n // 2 :].copy()
    second["lang"] = ["en" if op != "D" else None for op in second["op"]]
    now = time.time() - 100
    write_changelog_files(first, str(d), 1, base_mtime=now)
    write_changelog_files(second, str(d), 1, base_mtime=now + 10, start_index=1)

    from data_hub_ejp_xml_pipeline_spark.schemas import CHANGELOG_SCHEMA

    evolved = T.StructType(
        list(CHANGELOG_SCHEMA.fields) + [T.StructField("lang", T.StringType(), True)]
    )
    table = SnapshotTable.create(spark, str(tmp_path / "tbl"), PAYLOAD_SCHEMA, n_buckets=8)
    ChangelogTailer(spark, MergePipeline(spark, table.root)).run_to_completion(
        str(d), str(tmp_path / "ckpt"), schema=evolved, max_files_per_trigger=1
    )
    assert "lang" in [f.name for f in table.schema().fields]
    actual = _final_pdf(table)
    assert_final_state_equal(actual, expected_final_state_pandas(changelog_pdf))


def test_bootstrap_snapshot_then_tail_handoff(spark, tmp_path, changelog_pdf):
    """The classic CDC cutover (Debezium snapshot → WAL tail): bootstrap
    the table from a full snapshot at watermark W, then tail a changelog
    whose files OVERLAP the snapshot (events with lsn ≤ W replay). The
    LSN guard makes the overlap harmless and the final state equals the
    full-replay oracle."""
    from data_hub_ejp_xml_pipeline_spark.generator import write_changelog_files
    from data_hub_ejp_xml_pipeline_spark.operators.lww import reduce_latest
    from data_hub_ejp_xml_pipeline_spark.oracle import expected_final_state_pandas

    n = len(changelog_pdf)
    w = int(changelog_pdf["lsn"].quantile(0.6))  # snapshot watermark

    # bootstrap: the upstream's state AT watermark W, loaded as one merge
    from data_hub_ejp_xml_pipeline_spark.generator import spark_changelog_from_pandas

    snap_src = spark_changelog_from_pandas(
        spark, changelog_pdf[changelog_pdf["lsn"] <= w]
    )
    table = SnapshotTable.create(spark, str(tmp_path / "tbl"), PAYLOAD_SCHEMA,
                                 n_buckets=8)
    # batch_id=None: the bootstrap must NOT claim a streaming epoch id —
    # the tail's checkpoint starts at 0, and a ledgered id 0 would make
    # the first real epoch no-op as a "replay" (silently dropped data)
    table.merge(reduce_latest(snap_src), batch_id=None)

    # tail: changelog files from BEFORE the watermark onward (overlap ~20%)
    overlap_lo = int(changelog_pdf["lsn"].quantile(0.4))
    tail_pdf = changelog_pdf[changelog_pdf["lsn"] > overlap_lo]
    d = str(tmp_path / "cl")
    write_changelog_files(tail_pdf, d, 4)
    tailer = ChangelogTailer(spark, MergePipeline(spark, table.root))
    tailer.run_to_completion(d, str(tmp_path / "ckpt"), max_files_per_trigger=2)

    assert_final_state_equal(
        _final_pdf(table), expected_final_state_pandas(changelog_pdf)
    )
