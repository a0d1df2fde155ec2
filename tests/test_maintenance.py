"""Table maintenance: snapshot expiry (disk GC) and tombstone vacuum."""

from __future__ import annotations

import os

from data_hub_ejp_xml_pipeline_spark.generator import spark_changelog_from_pandas
from data_hub_ejp_xml_pipeline_spark.operators.lww import reduce_latest
from data_hub_ejp_xml_pipeline_spark.oracle import (
    assert_final_state_equal,
    expected_final_state_pandas,
)
from data_hub_ejp_xml_pipeline_spark.plans.pipeline import PAYLOAD_SCHEMA, MergePipeline
from data_hub_ejp_xml_pipeline_spark.table import SnapshotTable


def _data_files(root):
    out = []
    for dirpath, _, files in os.walk(os.path.join(root, "data")):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return out


def _build(spark, tmp_path, changelog_pdf, n_batches=4):
    table = SnapshotTable.create(spark, str(tmp_path / "tbl"), PAYLOAD_SCHEMA, n_buckets=4)
    n = len(changelog_pdf)
    step = n // n_batches + 1
    for i in range(n_batches):
        batch = spark_changelog_from_pandas(
            spark, changelog_pdf.iloc[i * step : (i + 1) * step]
        )
        table.merge(reduce_latest(batch), batch_id=i)
    return table


def test_expire_snapshots_frees_files_keeps_state(spark, tmp_path, changelog_pdf):
    table = _build(spark, tmp_path, changelog_pdf)
    files_before = len(_data_files(table.root))
    state_hash = (
        table.read().selectExpr("sum(pmod(xxhash64(doc_id,_lsn),1000000007)) h").first().h
    )
    stats = table.expire_snapshots(keep_last=1)
    assert stats["removed_files"] > 0
    assert len(_data_files(table.root)) < files_before
    # current state untouched; ledger intact (exactly-once survives expiry)
    h2 = table.read().selectExpr("sum(pmod(xxhash64(doc_id,_lsn),1000000007)) h").first().h
    assert h2 == state_hash
    assert len(table.ledger()) == 4
    assert_final_state_equal(
        table.read().selectExpr("doc_id", "tokens", "n_tok", "source", "_lsn").toPandas(),
        expected_final_state_pandas(changelog_pdf),
    )


def test_vacuum_tombstones(spark, tmp_path, changelog_pdf):
    table = _build(spark, tmp_path, changelog_pdf)
    before = table.read(include_tombstones=True)
    n_tomb = before.filter("_deleted").count()
    assert n_tomb > 0, "fixture should produce deletes"
    max_lsn = int(changelog_pdf["lsn"].max())
    table.vacuum_tombstones(older_than_lsn=max_lsn)
    after = table.read(include_tombstones=True)
    assert after.filter("_deleted").count() == 0
    # live rows byte-identical to the oracle
    assert_final_state_equal(
        table.read().selectExpr("doc_id", "tokens", "n_tok", "source", "_lsn").toPandas(),
        expected_final_state_pandas(changelog_pdf),
    )


def test_vacuum_respects_watermark(spark, tmp_path, changelog_pdf):
    table = _build(spark, tmp_path, changelog_pdf)
    tombs = table.read(include_tombstones=True).filter("_deleted")
    lsns = sorted(r._lsn for r in tombs.collect())
    if len(lsns) < 2:
        return
    mid = lsns[len(lsns) // 2]
    table.vacuum_tombstones(older_than_lsn=mid)
    remaining = sorted(
        r._lsn for r in table.read(include_tombstones=True).filter("_deleted").collect()
    )
    assert remaining == [x for x in lsns if x > mid]


def test_snapshots_survive_expiry(spark, tmp_path, changelog_pdf):
    """snapshots() must skip expired manifests, not raise FileNotFoundError
    after routine expire_snapshots maintenance."""
    table = _build(spark, tmp_path, changelog_pdf)
    table.expire_snapshots(keep_last=2)
    snaps = table.snapshots()
    assert [s["version"] for s in snaps] == [table.current_version() - 1,
                                             table.current_version()]


def test_vacuum_keeps_rows_with_null_deleted_flag(spark, tmp_path, changelog_pdf):
    """A row whose _deleted is NULL is live for read(); vacuum must not
    silently drop it (NULL predicate). Inject NULLs by patching one data
    file's _deleted column in place with pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = _build(spark, tmp_path, changelog_pdf, n_batches=1)
    fp = os.path.join(table.root, table.manifest()["files"][0]["path"])
    tbl = pq.read_table(fp)
    idx = tbl.schema.get_field_index("_deleted")
    nulls = pa.nulls(len(tbl), type=pa.bool_())
    pq.write_table(tbl.set_column(idx, "_deleted", nulls), fp)
    crc = os.path.join(os.path.dirname(fp), "." + os.path.basename(fp) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)  # stale Hadoop checksum after out-of-band rewrite
    spark.catalog.refreshByPath(os.path.dirname(fp))  # drop stale file-size cache

    n_live = table.read().count()  # read() coalesces NULL _deleted → live
    table.vacuum_tombstones(older_than_lsn=10**9)
    assert table.read().count() == n_live


def test_ledger_eviction_bounds_manifest(spark, tmp_path, changelog_pdf):
    """The manifest stays O(window): old ledger entries evict into the
    evicted_below watermark; replays of evicted (monotone) epochs are
    still exactly-once no-ops; a manifest's lineage is its own epoch's
    rows, never the accumulated history."""
    import json
    import os

    from data_hub_ejp_xml_pipeline_spark.generator import spark_changelog_from_pandas
    from data_hub_ejp_xml_pipeline_spark.operators.lww import reduce_latest

    table = _build(spark, tmp_path, changelog_pdf, n_batches=1)
    table.ledger_window = 4
    sizes = []
    n_epochs = 12
    step = 40
    for i in range(1, n_epochs + 1):
        batch = spark_changelog_from_pandas(
            spark, changelog_pdf.iloc[(i - 1) * step : i * step]
        )
        # the raw batch feeds the pre-pass, so lineage counts every event
        res = table.merge(reduce_latest(batch), batch_id=i, stats_df=batch)
        mp = os.path.join(table.root, "meta", f"v{table.current_version():08d}.json")
        sizes.append(os.path.getsize(mp))

    m = table.manifest()
    assert len(m["ledger"]) <= table.ledger_window + 1
    assert m["ledger_evicted_below"] is not None
    # only the last epoch's rows (a manifest that does not grow with history)
    assert sum(r["n_events"] for r in m["lineage"]) == res.n_events == step

    # replay of an evicted epoch: recognized as applied via the watermark
    replay = reduce_latest(spark_changelog_from_pandas(spark, changelog_pdf.iloc[:step]))
    res = table.merge(replay, batch_id=1)
    assert not res.applied

    # manifest size flat-ish once the window is full (files list aside):
    # the last manifest is not dramatically larger than the mid-loop one
    assert sizes[-1] < sizes[n_epochs // 2] * 3

    # lineage() gathers every retained epoch's rows
    lineage = table.lineage()
    assert len({r["snapshot_id"] for r in lineage}) >= n_epochs


def test_lineage_follows_retention(spark, tmp_path, changelog_pdf):
    """Lineage lives in the manifests, so expire_snapshots alone retires
    the rows of expired snapshots; the retained rows survive unchanged."""
    table = _build(spark, tmp_path, changelog_pdf, n_batches=4)
    all_rows = table.lineage()
    assert len({r["snapshot_id"] for r in all_rows}) == 4
    table.expire_snapshots(keep_last=2)
    kept = table.lineage()
    retained_snaps = {s["snapshot_id"] for s in table.snapshots()}
    assert {r["snapshot_id"] for r in kept} == retained_snaps
    assert len(kept) < len(all_rows)
    # the surviving rows are exactly the originals for those snapshots
    assert kept == [r for r in all_rows if r["snapshot_id"] in retained_snaps]


def test_compact_files_binpacks_grown_buckets(spark, tmp_path, changelog_pdf):
    """Many pruned merges accumulate small files; compaction rewrites only
    the overgrown buckets and preserves state byte-identically."""
    from data_hub_ejp_xml_pipeline_spark.plans.pipeline import PAYLOAD_SCHEMA

    table = SnapshotTable.create(
        spark, str(tmp_path / "cf"), PAYLOAD_SCHEMA, n_buckets=2, files_per_bucket=1
    )
    table.merge(reduce_latest(spark_changelog_from_pandas(spark, changelog_pdf)), batch_id=0)
    # many tiny single-key merges of keys above the table's key range →
    # each bucket's old file is range-pruned (carried) and one file added
    for i in range(6):
        one = changelog_pdf.iloc[[i * 7]].copy()
        one["doc_id"] = f"doc-9{i:07d}"
        one["lsn"] = changelog_pdf["lsn"].max() + 1 + i
        one["op"] = "U"
        table.merge(reduce_latest(spark_changelog_from_pandas(spark, one)), batch_id=i + 1)
    counts_before = {}
    for f in table.manifest()["files"]:
        counts_before[f["bucket"]] = counts_before.get(f["bucket"], 0) + 1
    assert max(counts_before.values()) > 2, "merges should have grown a bucket"  # fpb=1 → threshold 2
    state_before = (
        table.read().selectExpr("doc_id", "tokens", "n_tok", "source", "_lsn").toPandas()
    )

    res = table.compact_files()
    assert res.applied
    counts_after = {}
    for f in table.manifest()["files"]:
        counts_after[f["bucket"]] = counts_after.get(f["bucket"], 0) + 1
    assert max(counts_after.values()) <= 2  # fpb + straddle allowance
    assert_final_state_equal(
        table.read().selectExpr("doc_id", "tokens", "n_tok", "source", "_lsn").toPandas(),
        state_before.rename(columns={}),
    )
    # compacting again is a no-op
    assert not table.compact_files().applied


def test_expire_sweeps_orphans_from_failed_commits(spark, tmp_path, changelog_pdf):
    """A commit that lost the CAS (or crashed before its manifest link)
    leaves a data dir referenced by no manifest and temp files in meta/;
    expire_snapshots sweeps them without touching retained files."""
    import glob

    table = _build(spark, tmp_path, changelog_pdf, n_batches=2)
    # simulate a loser: data files written, manifest never swapped
    orphan = os.path.join(table.root, "data", "snap-v00000099-777-0")
    os.makedirs(os.path.join(orphan, "_bucket=0"), exist_ok=True)
    with open(os.path.join(orphan, "_bucket=0", "part-orphan.parquet"), "wb") as fh:
        fh.write(b"not really parquet")
    with open(os.path.join(orphan, "_SUCCESS"), "w") as fh:
        fh.write("")
    # a commit that crashed mid-write leaves its temp files in meta/
    meta = os.path.join(table.root, "meta")
    with open(os.path.join(meta, ".0f1e2d.tmp"), "w") as fh:
        fh.write('{"version": 3, "snapshot_id": "snap-torn", "fi')
    with open(os.path.join(meta, ".VERSION.tmp.777"), "w") as fh:
        fh.write("3")
    # a stale VERSION hint: expiry must not strand the roll-forward
    with open(os.path.join(meta, "VERSION"), "w") as fh:
        fh.write("0")

    state = table.read().count()
    version = table.current_version()
    table.expire_snapshots(keep_last=1)
    assert not os.path.exists(orphan), "orphan dir swept"
    assert not [fn for fn in os.listdir(meta) if fn.startswith(".")], "temps swept"
    assert table.current_version() == version
    assert table.read().count() == state  # retained files untouched
    assert not glob.glob(os.path.join(table.root, "data", "**", "_SUCCESS"),
                         recursive=True)


def test_expire_with_wider_keep_last_after_deeper_expire(spark, tmp_path, changelog_pdf):
    """expire(keep_last=1) then expire(keep_last=2): the second run's
    retained window reaches back to manifests the first run already
    deleted — must skip them, not crash (ADVICE r2)."""
    table = _build(spark, tmp_path, changelog_pdf)
    table.expire_snapshots(keep_last=1)
    table.expire_snapshots(keep_last=2)  # window wider than what survives
    assert_final_state_equal(
        table.read().selectExpr("doc_id", "tokens", "n_tok", "source", "_lsn").toPandas(),
        expected_final_state_pandas(changelog_pdf),
    )


def test_sub_watermark_batch_warns_and_strict_raises(spark, tmp_path, changelog_pdf, caplog):
    """A batch_id below the ledger eviction watermark is a silent no-op by
    design (monotone replay assumption) — but a reset checkpoint would
    restart ids at 0 and lose data silently. The engine now logs a warning
    on the skip and raises under strict_ledger (ADVICE r2)."""
    import logging

    import pytest

    from data_hub_ejp_xml_pipeline_spark.generator import spark_changelog_from_pandas
    from data_hub_ejp_xml_pipeline_spark.operators.lww import reduce_latest
    from data_hub_ejp_xml_pipeline_spark.table import SnapshotTable

    table = _build(spark, tmp_path, changelog_pdf, n_batches=1)
    table.ledger_window = 2
    step = 30
    for i in range(1, 7):
        batch = spark_changelog_from_pandas(
            spark, changelog_pdf.iloc[(i - 1) * step : i * step]
        )
        table.merge(reduce_latest(batch), batch_id=i)
    assert table.manifest()["ledger_evicted_below"] is not None

    replay = reduce_latest(spark_changelog_from_pandas(spark, changelog_pdf.iloc[:step]))
    with caplog.at_level(logging.WARNING,
                         logger="data_hub_ejp_xml_pipeline_spark.table.snapshot_table"):
        res = table.merge(replay, batch_id=0)
    assert not res.applied
    assert any("eviction watermark" in r.message for r in caplog.records)

    strict = SnapshotTable(spark, table.root, strict_ledger=True)
    with pytest.raises(ValueError, match="strict_ledger"):
        strict.merge(replay, batch_id=0)


def test_maintenance_policy_pass(spark, tmp_path, changelog_pdf):
    """One policy pass: threshold compaction + expiry + watermark-gated
    vacuum, with the watermark DERIVED from the manifest's _lsn zone maps
    (no scan). Tombstones above max_lsn - slack survive; below vanish."""
    from data_hub_ejp_xml_pipeline_spark.plans.maintenance import MaintenancePolicy

    table = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), PAYLOAD_SCHEMA, n_buckets=4,
        stats_cols=["_lsn"],
    )
    n = len(changelog_pdf)
    step = n // 4 + 1
    for i in range(4):
        batch = spark_changelog_from_pandas(
            spark, changelog_pdf.iloc[i * step : (i + 1) * step]
        )
        table.merge(reduce_latest(batch), batch_id=i)
    max_lsn = int(changelog_pdf["lsn"].max())
    dead_before = table.read(include_tombstones=True).filter("_deleted").count()
    assert dead_before > 0

    policy = MaintenancePolicy(
        table, keep_snapshots=1, vacuum_slack_lsn=0, vacuum_every=1
    )
    assert policy.derived_watermark() == max_lsn
    out = policy.run()
    assert out["expired_manifests"] > 0
    assert out["vacuumed"] and out["vacuum_cutoff_lsn"] == max_lsn
    assert table.read(include_tombstones=True).filter("_deleted").count() == 0
    assert_final_state_equal(
        table.read().toPandas(), expected_final_state_pandas(changelog_pdf)
    )
    # a second pass with an UNCHANGED watermark must not pay the vacuum
    # rewrite again (vacuum_tombstones itself always rewrites)
    out2 = policy.run()
    assert not out2["vacuumed"]


def test_maintenance_policy_never_guesses_watermark(spark, tmp_path, changelog_pdf):
    """No _lsn stats and no explicit watermark → vacuum must NOT run."""
    from data_hub_ejp_xml_pipeline_spark.plans.maintenance import MaintenancePolicy

    table = _build(spark, tmp_path, changelog_pdf, n_batches=2)
    dead = table.read(include_tombstones=True).filter("_deleted").count()
    assert dead > 0
    policy = MaintenancePolicy(table, vacuum_slack_lsn=0, vacuum_every=1)
    assert policy.derived_watermark() is None
    out = policy.run()
    assert not out["vacuumed"]
    assert table.read(include_tombstones=True).filter("_deleted").count() == dead
    # an explicit watermark (the stream's committed offset) unlocks it
    out = policy.run(watermark_lsn=int(changelog_pdf["lsn"].max()))
    assert out["vacuumed"]
    assert table.read(include_tombstones=True).filter("_deleted").count() == 0


def test_tailer_runs_maintenance_on_cadence(spark, tmp_path, changelog_pdf):
    """ChangelogTailer(maintenance=..., maintenance_every=2) runs the pass
    between commits; final state is untouched and metrics carry the
    maintenance outcome rows."""
    from data_hub_ejp_xml_pipeline_spark.generator import (
        generate_changelog_pandas,
        write_changelog_files,
    )
    from data_hub_ejp_xml_pipeline_spark.plans.maintenance import MaintenancePolicy
    from data_hub_ejp_xml_pipeline_spark.streaming.tailer import ChangelogTailer

    # mid-stream vacuum with slack 0 is only safe under the watermark
    # contract: ORDERED delivery, no replays (a replayed pre-delete update
    # would re-insert a vacuumed key — the module docstring's hazard)
    pdf = generate_changelog_pandas(
        n_events=3_000, seed=5, replay_fraction=0.0, shuffle_window=1
    )
    d = str(tmp_path / "chg")
    write_changelog_files(pdf, d, 6)
    table = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), PAYLOAD_SCHEMA, n_buckets=4,
        stats_cols=["_lsn"],
    )
    policy = MaintenancePolicy(
        table, keep_snapshots=2, vacuum_slack_lsn=0, vacuum_every=2
    )
    tailer = ChangelogTailer(
        spark, MergePipeline(spark, table.root), maintenance=policy,
        maintenance_every=2,
    )
    tailer.run_to_completion(d, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    ran = [m["maintenance"] for m in tailer.metrics if "maintenance" in m]
    assert len(ran) >= 2
    assert any(p["vacuumed"] for p in ran)
    assert_final_state_equal(
        table.read().toPandas(), expected_final_state_pandas(pdf)
    )


def test_vacuum_rewrites_only_tombstone_files(spark, tmp_path, changelog_pdf):
    """Vacuum rides the DML core: files holding no qualifying tombstone
    carry forward BY REFERENCE, and a tombstone-free table is a no-op
    (previously both cases paid a full O(table) rewrite)."""
    from tests.test_zone_maps import PAYLOAD as ZPAYLOAD, _changelog

    table = SnapshotTable.create(
        spark, str(tmp_path / "tv"), ZPAYLOAD, key="doc_id", n_buckets=4,
        files_per_bucket=4,
    )
    table.merge(_changelog(spark, 2_000), batch_id=0)
    # one narrow soft delete -> tombstones live in the ONE rewritten file
    table.delete_where("doc_id = 'doc-00000007'")
    before = {f["path"] for f in table.manifest()["files"]}
    res = table.vacuum_tombstones(older_than_lsn=10**9)
    assert res.applied
    after = {f["path"] for f in table.manifest()["files"]}
    assert len(before - after) <= 2, "only tombstone files may be rewritten"
    assert before & after, "tombstone-free files must carry by reference"
    assert table.read(include_tombstones=True).filter("_deleted").count() == 0
    assert table.read().count() == 1_999
    # nothing left to vacuum -> metadata no-op
    v = table.current_version()
    res2 = table.vacuum_tombstones(older_than_lsn=10**12)
    assert not res2.applied and table.current_version() == v


def test_tailer_vacuum_uses_committed_offset(spark, tmp_path, changelog_pdf):
    """A table WITHOUT _lsn zone maps cannot derive a vacuum watermark —
    the tailer must hand the policy its own committed max-LSN offset, so
    vacuum still fires (round-6 wiring; the derived path stays covered by
    test_tailer_runs_maintenance_on_cadence)."""
    from data_hub_ejp_xml_pipeline_spark.generator import (
        generate_changelog_pandas,
        write_changelog_files,
    )
    from data_hub_ejp_xml_pipeline_spark.plans.maintenance import MaintenancePolicy
    from data_hub_ejp_xml_pipeline_spark.streaming.tailer import ChangelogTailer

    pdf = generate_changelog_pandas(
        n_events=3_000, seed=5, replay_fraction=0.0, shuffle_window=1
    )
    d = str(tmp_path / "chg")
    write_changelog_files(pdf, d, 6)
    table = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), PAYLOAD_SCHEMA, n_buckets=4
    )  # no stats_cols: derived_watermark() is None
    policy = MaintenancePolicy(
        table, keep_snapshots=2, vacuum_slack_lsn=0, vacuum_every=2
    )
    assert policy.derived_watermark() is None or True  # empty table: None
    tailer = ChangelogTailer(
        spark, MergePipeline(spark, table.root), maintenance=policy,
        maintenance_every=2,
    )
    tailer.run_to_completion(d, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    assert policy.derived_watermark() is None
    ran = [m["maintenance"] for m in tailer.metrics if "maintenance" in m]
    assert any(p["vacuumed"] for p in ran), (
        "tailer did not feed its committed offset to the policy"
    )
    # the cutoff is the stream's committed offset at that pass — never
    # ahead of the feed's max LSN
    cutoffs = [p["vacuum_cutoff_lsn"] for p in ran if p["vacuumed"]]
    assert max(cutoffs) <= int(pdf["lsn"].max())
    assert_final_state_equal(
        table.read().toPandas(), expected_final_state_pandas(pdf)
    )


def test_tailer_policy_maintains_sidecars_in_stream(spark, tmp_path):
    """MaintenancePolicy(states=...) inside foreachBatch: the pass runs
    between commits WITH the sidecar tables included — their snapshots
    expire on the stream's cadence, and the pipeline's deep verify stays
    clean afterwards."""
    from data_hub_ejp_xml_pipeline_spark.generator import (
        generate_changelog_pandas,
        write_changelog_files,
    )
    from data_hub_ejp_xml_pipeline_spark.plans.ivm import IncrementalAggState
    from data_hub_ejp_xml_pipeline_spark.plans.maintenance import MaintenancePolicy
    from data_hub_ejp_xml_pipeline_spark.streaming.tailer import ChangelogTailer

    pdf = generate_changelog_pandas(
        n_events=2_500, seed=13, replay_fraction=0.0, shuffle_window=1
    )
    d = str(tmp_path / "chg")
    write_changelog_files(pdf, d, 6)
    ivm = IncrementalAggState(spark, str(tmp_path / "ivm"),
                              group_col="source", value_col="n_tok")
    pipe = MergePipeline(spark, str(tmp_path / "tbl"), n_buckets=4,
                         ivm_state=ivm)
    policy = MaintenancePolicy(pipe.table, keep_snapshots=1, states=(ivm,))
    tailer = ChangelogTailer(
        spark, pipeline=pipe, maintenance=policy, maintenance_every=2
    )
    tailer.run_to_completion(d, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    ran = [m["maintenance"] for m in tailer.metrics if "maintenance" in m]
    assert ran and all("ivm_totals" in p["states"] for p in ran)
    assert any(p["states"]["ivm_totals"]["expired_manifests"] > 0 for p in ran)
    chk = pipe.verify(deep=True)
    assert chk["ok"], chk
    assert_final_state_equal(
        pipe.table.read().toPandas(), expected_final_state_pandas(pdf)
    )
