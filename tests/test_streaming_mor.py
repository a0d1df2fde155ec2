"""Streaming tailer with an injected merge-on-read pipeline: group commit
on the north-star path — availableNow drain, crash/restart exactly-once,
byte-identical final state vs the COW tailer."""

from __future__ import annotations

import pytest

from data_hub_ejp_xml_pipeline_spark.oracle import (
    assert_final_state_equal,
    expected_final_state_pandas,
)
from data_hub_ejp_xml_pipeline_spark.plans.mor_pipeline import MorPipeline
from data_hub_ejp_xml_pipeline_spark.streaming.tailer import ChangelogTailer

N_FILES = 6


@pytest.fixture()
def changelog_dir(tmp_path, changelog_pdf):
    from data_hub_ejp_xml_pipeline_spark.generator import write_changelog_files

    d = str(tmp_path / "changelog")
    write_changelog_files(changelog_pdf, d, N_FILES)
    return d


def _final(pipe):
    return pipe.final_state().selectExpr(
        "doc_id", "tokens", "n_tok", "source", "_lsn"
    ).toPandas()


def test_mor_tailer_drain_matches_oracle(spark, tmp_path, changelog_dir, changelog_pdf):
    """availableNow drain through MOR (k_compact=2 → mid-stream compactions
    AND staged deltas at stop) equals the pandas oracle; a follow-up
    compact() folds the tail and the state is unchanged."""
    pipe = MorPipeline(spark, str(tmp_path / "mor"), n_buckets=8, k_compact=2)
    tailer = ChangelogTailer(spark, pipeline=pipe)
    metrics = tailer.run_to_completion(
        changelog_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2
    )
    assert len(metrics) >= 2
    expected = expected_final_state_pandas(changelog_pdf)
    assert_final_state_equal(_final(pipe), expected)
    pipe.compact()
    assert pipe.delta.manifest()["files"] == []
    assert_final_state_equal(_final(pipe), expected)
    # metrics came from the delta ledger commits
    assert all(m["applied"] for m in metrics)


def test_mor_tailer_crash_restart_exactly_once(
    spark, tmp_path, changelog_dir, changelog_pdf
):
    """Crash after 2 epochs (checkpoint may replay the in-flight one);
    restart with a FRESH tailer + pipeline over the same roots: replayed
    epochs no-op via the delta ledger and the final state is byte-identical
    to the oracle."""
    root = str(tmp_path / "mor")
    ckpt = str(tmp_path / "ckpt")
    pipe = MorPipeline(spark, root, n_buckets=8, k_compact=3)
    tailer = ChangelogTailer(spark, pipeline=pipe, fail_after_batches=2)
    q = tailer.start(changelog_dir, ckpt, available_now=True, max_files_per_trigger=1)
    with pytest.raises(Exception):
        q.awaitTermination()

    pipe2 = MorPipeline(spark, root, n_buckets=8, k_compact=3)
    tailer2 = ChangelogTailer(spark, pipeline=pipe2)
    tailer2.run_to_completion(changelog_dir, ckpt, max_files_per_trigger=1)
    pipe2.compact()
    assert_final_state_equal(_final(pipe2), expected_final_state_pandas(changelog_pdf))


def test_tailer_needs_metrics_path_without_table_root(spark, tmp_path):
    """A duck-typed pipeline with no base/table attribute leaves no root to
    put metrics.jsonl under: the tailer refuses it unless metrics_path is
    given."""

    class Bare:
        def apply(self, batch_df, batch_id=None):
            raise AssertionError("not reached")

    with pytest.raises(ValueError, match="metrics_path"):
        ChangelogTailer(spark, Bare())
    metrics = str(tmp_path / "metrics.jsonl")
    tailer = ChangelogTailer(spark, Bare(), metrics_path=metrics)
    assert tailer.metrics_path == metrics


def test_tailer_metrics_row_survives_torn_line(spark, tmp_path):
    """A crash mid-append leaves metrics.jsonl without a trailing newline;
    the next epoch's row must start on its own line, not be glued onto
    the torn one."""
    import json

    from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import CommitResult

    class Stub:
        def apply(self, batch_df, batch_id=None):
            return CommitResult("snap-x", 1, applied=True, n_events=3,
                                record={"commit_s": 0.5})

    metrics = tmp_path / "metrics.jsonl"
    metrics.write_text(json.dumps({"batch_id": 0}) + "\n" + '{"batch_id": 1, "snap')
    ChangelogTailer(spark, Stub(), metrics_path=str(metrics)).apply_epoch(None, 2)
    lines = metrics.read_text().splitlines()
    assert lines[1] == '{"batch_id": 1, "snap'  # the torn line, left as is
    rows = [json.loads(x) for x in lines if x != lines[1]]
    assert [r["batch_id"] for r in rows] == [0, 2]
    assert set(rows[1]) == {
        "batch_id", "snapshot_id", "applied", "events_applied", "events_sec",
        "lag_sec", "commit",
    }
    assert rows[1]["commit"] == {"commit_s": 0.5}  # the engine's record
