"""A crash at each boundary inside a merge — and inside a compaction and
a ledgered DML commit, which share its write and publish steps — then a
replay through a fresh handle: state, ledger and lineage all end
exactly-once, every version is published once, and the table never
wedges — nor does one whose create or clone died before its first
``VERSION`` hint."""

from __future__ import annotations

import os

import pytest

from data_hub_ejp_xml_pipeline_spark.generator import spark_changelog_from_pandas
from data_hub_ejp_xml_pipeline_spark.operators.lww import reduce_latest
from data_hub_ejp_xml_pipeline_spark.oracle import (
    assert_final_state_equal,
    expected_final_state_pandas,
)
from data_hub_ejp_xml_pipeline_spark.plans.pipeline import PAYLOAD_SCHEMA, MergePipeline
from data_hub_ejp_xml_pipeline_spark.table import SnapshotTable
from data_hub_ejp_xml_pipeline_spark.table import snapshot_table as st


class Crash(Exception):
    """The simulated process death."""


def _crash(*_args, **_kwargs):
    raise Crash


def _then_crash(fn):
    def wrapped(*args, **kwargs):
        fn(*args, **kwargs)
        raise Crash

    return wrapped


def _hint_swap(crash_after: bool):
    """``os.replace`` that dies at the ``VERSION`` hint swap — before it or
    right after it; every other replace goes through."""
    real = os.replace

    def replace(src, dst, *args, **kwargs):
        if os.path.basename(dst) != "VERSION":
            return real(src, dst, *args, **kwargs)
        if crash_after:
            real(src, dst, *args, **kwargs)
        raise Crash

    return replace


def _torn_temp(meta, text):
    # the process dies halfway through writing the temp manifest
    with open(os.path.join(meta, ".torn.tmp"), "w") as fh:
        fh.write(text[: len(text) // 2])
    raise Crash


def _arm(point: str, table: SnapshotTable, monkeypatch) -> dict:
    """Install the crash for ``point``; returns extra merge() kwargs."""
    if point == "after_profile":
        monkeypatch.setattr(table, "_batch_profile", _then_crash(table._batch_profile))
    elif point == "after_write":
        # the footer listing runs right after the parquet write job
        monkeypatch.setattr(st, "_list_bucket_files", _crash)
    elif point == "in_hook":
        return {"pre_commit_hook": _crash}
    elif point == "torn_temp_manifest":
        monkeypatch.setattr(st, "_write_temp", _torn_temp)
    elif point == "after_link":
        monkeypatch.setattr(st.os, "replace", _hint_swap(crash_after=False))
    elif point == "after_hint":
        monkeypatch.setattr(st.os, "replace", _hint_swap(crash_after=True))
    return {}


MERGE_POINTS = ["after_profile", "after_write", "in_hook", "torn_temp_manifest",
                "after_link", "after_hint"]
# commits that share the merge's bucketed write and manifest publish
REWRITES = {
    "compact_files": lambda t: t.compact_files(cluster_by="n_tok"),
    "delete_where": lambda t: t.delete_where("n_tok % 2 = 0", batch_id=2),
}


@pytest.mark.parametrize(
    "op,point",
    [pytest.param("merge", p, id=p) for p in MERGE_POINTS]
    + [pytest.param(op, p, id=f"{op}-{p}")
       for op in REWRITES for p in ("after_write", "after_link")],
)
def test_crash_inside_merge_then_replay(
    spark, tmp_path, changelog_pdf, monkeypatch, op, point
):
    files = sorted(changelog_pdf["source_file"].unique())
    # epochs split by source file, so each file belongs to exactly one epoch
    epochs = [
        changelog_pdf[changelog_pdf["source_file"].isin(files[: len(files) // 2])],
        changelog_pdf[changelog_pdf["source_file"].isin(files[len(files) // 2 :])],
    ]
    root = str(tmp_path / "t")
    table = SnapshotTable.create(spark, root, PAYLOAD_SCHEMA, n_buckets=2)

    def merge(t: SnapshotTable, batch_id: int, **kwargs):
        raw = spark_changelog_from_pandas(spark, epochs[batch_id])
        return t.merge(reduce_latest(raw), batch_id=batch_id, stats_df=raw, **kwargs)

    merge(table, 0)
    if op == "merge":
        def commit(t, **kwargs):
            return merge(t, 1, **kwargs)
    else:
        merge(table, 1)

        def commit(t, **kwargs):
            return REWRITES[op](t)
    kwargs = _arm(point, table, monkeypatch)
    with pytest.raises(Crash):
        commit(table, **kwargs)
    monkeypatch.undo()

    # the replay: no ConcurrentCommitError; a crash after the manifest
    # link is a committed epoch, so a ledgered replay is a no-op (a
    # compaction has no ledger slot and rewrites again)
    committed = point in ("after_link", "after_hint")
    res = commit(SnapshotTable(spark, root))
    assert res.applied == (op == "compact_files" or not committed)

    fresh = SnapshotTable(spark, root)
    expected = expected_final_state_pandas(changelog_pdf)
    if op == "delete_where":
        expected = expected[expected["n_tok"] % 2 != 0]
    actual = fresh.read().selectExpr("doc_id", "tokens", "n_tok", "source", "_lsn")
    assert_final_state_equal(actual.toPandas(), expected)
    assert sorted(r["source_file"] for r in fresh.lineage()) == files
    # every version was published once, on top of its parent
    snaps = [fresh.manifest(v) for v in range(fresh.current_version() + 1)]
    assert [m["version"] for m in snaps] == list(range(len(snaps)))
    assert len(snaps) == 3 + (op != "merge") + (op == "compact_files" and committed)
    assert all(b["parent"] == a["snapshot_id"] for a, b in zip(snaps, snaps[1:]))


def test_crash_before_first_hint(spark, tmp_path, changelog_pdf, monkeypatch):
    """A crash between a new table's first manifest link and its first
    hint — in ``create`` and in ``clone`` — leaves a table that exists and
    reads; a caller that creates when absent opens it instead of wedging."""
    root = str(tmp_path / "t")
    monkeypatch.setattr(st.os, "replace", _hint_swap(crash_after=False))
    with pytest.raises(Crash):
        MergePipeline(spark, root, n_buckets=2)
    monkeypatch.undo()
    assert SnapshotTable.exists(root)
    assert SnapshotTable(spark, root).current_version() == 0
    pipe = MergePipeline(spark, root, n_buckets=2)
    pipe.apply(spark_changelog_from_pandas(spark, changelog_pdf), batch_id=0)
    expected = expected_final_state_pandas(changelog_pdf)
    cols = ("doc_id", "tokens", "n_tok", "source", "_lsn")
    assert_final_state_equal(pipe.final_state().selectExpr(*cols).toPandas(), expected)

    dest = str(tmp_path / "clone")
    # a clone that dies before its manifest is no table, and reruns
    monkeypatch.setattr(st, "_write_temp", _crash)
    with pytest.raises(Crash):
        pipe.table.clone(dest)
    monkeypatch.undo()
    assert not SnapshotTable.exists(dest)
    monkeypatch.setattr(st.os, "replace", _hint_swap(crash_after=False))
    with pytest.raises(Crash):
        pipe.table.clone(dest)
    monkeypatch.undo()
    assert SnapshotTable.exists(dest)
    with pytest.raises(ValueError, match="already holds a table"):
        pipe.table.clone(dest)
    clone = SnapshotTable(spark, dest)
    assert clone.current_version() == pipe.table.current_version()
    assert_final_state_equal(clone.read().selectExpr(*cols).toPandas(), expected)
    assert sorted(r["source_file"] for r in clone.lineage()) == sorted(
        changelog_pdf["source_file"].unique()
    )
    out = clone.verify()
    assert out["ok"], out["errors"]
