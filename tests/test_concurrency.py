"""Optimistic-concurrency guard: a commit based on a stale snapshot fails
instead of silently dropping the interleaved writer's commit."""

from __future__ import annotations

import pytest

from data_hub_ejp_xml_pipeline_spark.generator import spark_changelog_from_pandas
from data_hub_ejp_xml_pipeline_spark.operators.lww import reduce_latest
from data_hub_ejp_xml_pipeline_spark.plans.pipeline import PAYLOAD_SCHEMA
from data_hub_ejp_xml_pipeline_spark.table import SnapshotTable
from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import ConcurrentCommitError


def test_stale_commit_detected(spark, tmp_path, changelog_pdf, monkeypatch):
    table = SnapshotTable.create(spark, str(tmp_path / "tbl"), PAYLOAD_SCHEMA, n_buckets=4)
    b1 = reduce_latest(spark_changelog_from_pandas(spark, changelog_pdf.iloc[:500]))
    b2 = reduce_latest(spark_changelog_from_pandas(spark, changelog_pdf.iloc[500:1000]))

    # interleave: while commit A is writing, a second writer commits B
    original = table._write_manifest
    interfered = {"done": False}

    def interfering_write(manifest, expected_parent_version=None, **kwargs):
        if not interfered["done"] and manifest["operation"].startswith("merge"):
            interfered["done"] = True
            # second writer sneaks in a full commit first
            other = SnapshotTable(spark, table.root)
            other.merge(b2, batch_id=99)
        original(manifest, expected_parent_version=expected_parent_version, **kwargs)

    monkeypatch.setattr(table, "_write_manifest", interfering_write)
    with pytest.raises(ConcurrentCommitError):
        table.merge(b1, batch_id=0)

    # the interleaved commit survived; a retry on the fresh snapshot works
    monkeypatch.setattr(table, "_write_manifest", original)
    assert "99" in table.ledger()
    res = table.merge(b1, batch_id=0)
    assert res.applied


def test_cas_manifest_create_is_atomic(spark, tmp_path, monkeypatch):
    """Two writers that BOTH pass the version pre-check race on publishing
    the same v{N}.json: the link of the temp manifest makes exactly one
    win, and the loser leaves no temp file behind."""
    import json
    import os

    table = SnapshotTable.create(spark, str(tmp_path / "tbl"), PAYLOAD_SCHEMA, n_buckets=4)
    meta = os.path.join(table.root, "meta")
    path = os.path.join(meta, "v00000001.json")
    real_current_version = table.current_version

    def racer_publishes_after_precheck():
        # our pre-check sees v0; the other writer's v1 lands right after
        v = real_current_version()
        with open(path, "w") as fh:
            json.dump({"version": 1, "snapshot_id": "snap-other"}, fh)
        return v

    monkeypatch.setattr(table, "current_version", racer_publishes_after_precheck)
    with pytest.raises(ConcurrentCommitError):
        table._write_manifest(
            {"version": 1, "snapshot_id": "snap-mine"}, expected_parent_version=0
        )
    # the winner's manifest is untouched; no temp manifest is left over
    with open(path) as fh:
        assert json.load(fh)["snapshot_id"] == "snap-other"
    assert not [fn for fn in os.listdir(meta) if fn.startswith(".")]


def test_merge_commit_retries_win_after_concurrent_loss(spark, tmp_path, changelog_df):
    """commit_retries: a merge that loses the CAS re-reads the manifest and
    re-applies on top of the winner (reference: 10-retries backoff loop).
    Simulated by advancing the table through a SECOND handle from inside
    the loser's first manifest write."""
    from pyspark.sql import types as T

    from data_hub_ejp_xml_pipeline_spark.operators.lww import reduce_latest
    from data_hub_ejp_xml_pipeline_spark.schemas import TARGET_SCHEMA
    from data_hub_ejp_xml_pipeline_spark.table import SnapshotTable
    from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import (
        ConcurrentCommitError,
    )

    payload = T.StructType([f for f in TARGET_SCHEMA.fields if f.name != "_lsn"])
    root = str(tmp_path / "t")
    table = SnapshotTable.create(spark, root, payload, n_buckets=4)
    other = SnapshotTable(spark, root)

    batch_a = reduce_latest(changelog_df.limit(500))
    batch_b = reduce_latest(changelog_df.limit(1000))

    real_write = SnapshotTable._write_manifest
    fired = {"n": 0}

    def racing_write(self, manifest, expected_parent_version=None, **kwargs):
        # before the loser's FIRST commit lands, a competitor advances the
        # table through the other handle (real path, real CAS)
        if self is table and fired["n"] == 0:
            fired["n"] = 1
            real_write(other, {**other.manifest(),
                               "version": other.current_version() + 1,
                               "snapshot_id": "snap-racer",
                               "parent": other.manifest()["snapshot_id"],
                               "operation": "merge"},
                       expected_parent_version=other.current_version())
        return real_write(self, manifest, expected_parent_version, **kwargs)

    SnapshotTable._write_manifest = racing_write
    try:
        with pytest.raises(ConcurrentCommitError):
            table.merge(batch_a, batch_id=0)  # no retries → surfaces
        res = table.merge(batch_b, batch_id=1, commit_retries=3,
                          retry_backoff_sec=0.01)
        assert res.applied
    finally:
        SnapshotTable._write_manifest = real_write
    # the retried merge applied on top of the racer's version
    assert table.manifest()["parent"] in ("snap-racer",)
    # live rows = per-key winners whose final op is not a delete
    from pyspark.sql import functions as F

    assert table.read().count() == batch_b.filter(F.col("op") != "D").count()


def test_dml_loses_cas_to_interleaved_merge(spark, tmp_path, changelog_pdf, monkeypatch):
    """delete_where/update_where ride the same optimistic CAS as merge: a
    DML commit computed against a stale snapshot must raise, never
    silently drop the interleaved merge."""
    table = SnapshotTable.create(spark, str(tmp_path / "tbl"), PAYLOAD_SCHEMA, n_buckets=4)
    table.merge(
        reduce_latest(spark_changelog_from_pandas(spark, changelog_pdf.iloc[:500])),
        batch_id=0,
    )
    b2 = reduce_latest(spark_changelog_from_pandas(spark, changelog_pdf.iloc[500:1000]))

    original = table._write_manifest
    interfered = {"done": False}

    def interfering_write(manifest, expected_parent_version=None, **kwargs):
        if not interfered["done"] and manifest["operation"] == "delete_where":
            interfered["done"] = True
            SnapshotTable(spark, table.root).merge(b2, batch_id=99)
        original(manifest, expected_parent_version=expected_parent_version, **kwargs)

    monkeypatch.setattr(table, "_write_manifest", interfering_write)
    with pytest.raises(ConcurrentCommitError):
        table.delete_where("n_tok >= 0", batch_id=1)
    monkeypatch.setattr(table, "_write_manifest", original)
    assert "99" in table.ledger()  # the interleaved merge survived
    res = table.delete_where("n_tok >= 0", batch_id=1)  # retry on fresh snapshot
    assert res.applied and table.read().count() == 0
