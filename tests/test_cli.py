"""CLI surface: each subcommand drives the real library in-process and
prints one JSON line (the reference's Airflow-task operational surface)."""

from __future__ import annotations

import pytest

from data_hub_ejp_xml_pipeline_spark.__main__ import main
from data_hub_ejp_xml_pipeline_spark.generator import write_changelog_files
from data_hub_ejp_xml_pipeline_spark.oracle import expected_final_state_pandas


@pytest.fixture()
def changelog_dir(tmp_path, changelog_pdf):
    d = str(tmp_path / "changelog")
    write_changelog_files(changelog_pdf, d, 4)
    return d


def test_cli_tail_apply_show_expire(spark, tmp_path, changelog_dir, changelog_pdf):
    root = str(tmp_path / "tbl")
    out = main(
        ["tail", "--changelog", changelog_dir, "--table", root,
         "--checkpoint", str(tmp_path / "ckpt"), "--max-files-per-trigger", "2",
         "--n-buckets", "8"],
        spark=spark,
    )
    expected = expected_final_state_pandas(changelog_pdf)
    assert out["final_rows"] == len(expected)
    assert out["epochs"] >= 2

    show = main(["show", "--table", root], spark=spark)
    assert show["rows"] >= len(expected) and show["key"] == "doc_id"

    exp = main(["expire", "--table", root, "--keep-last", "1"], spark=spark)
    assert exp["cmd"] == "expire"


def test_cli_mor_tail_and_compact(spark, tmp_path, changelog_dir, changelog_pdf):
    root = str(tmp_path / "mor")
    out = main(
        ["tail", "--changelog", changelog_dir, "--table", root,
         "--checkpoint", str(tmp_path / "ckpt"), "--mor", "--k-compact", "3",
         "--n-buckets", "8"],
        spark=spark,
    )
    assert out["final_rows"] == len(expected_final_state_pandas(changelog_pdf))
    # tail --mor ends with a compact; a second compact is a clean no-op
    c = main(["compact", "--table", root, "--mor"], spark=spark)
    assert c["applied"] is False


def test_cli_apply_batch(spark, tmp_path, changelog_dir, changelog_pdf):
    import os

    first = sorted(
        os.path.join(changelog_dir, f)
        for f in os.listdir(changelog_dir)
        if f.endswith(".parquet")
    )[0]
    out = main(
        ["apply", "--changelog", first, "--table", str(tmp_path / "t"),
         "--batch-id", "0", "--n-buckets", "4"],
        spark=spark,
    )
    assert out["applied"] and out["n_events"] > 0


def test_cli_dedup_state_tail_and_flags(spark, tmp_path, changelog_dir, changelog_pdf):
    """--dedup-state on tail wires TokenDedupState through the stream;
    dedup-flags summarizes the durable flags table. The generated
    changelog re-updates keys with fresh token arrays, so exact dups are
    rare — the contract under test is the wiring + exactly-once state,
    not flag volume."""
    root = str(tmp_path / "tbl")
    dstate = str(tmp_path / "dstate")
    main(
        ["tail", "--changelog", changelog_dir, "--table", root,
         "--checkpoint", str(tmp_path / "ckpt"), "--n-buckets", "4",
         "--dedup-state", dstate, "--dedup-prefix-k", "4"],
        spark=spark,
    )
    from data_hub_ejp_xml_pipeline_spark.plans.dedup_ingest import TokenDedupState

    # reopening WITHOUT the flag adopts the stored prefix_k (state identity)
    st = TokenDedupState(spark, dstate)
    assert st.prefix_k == 4
    expected_live = expected_final_state_pandas(changelog_pdf)
    fp_rows = st.fingerprints.read().collect()
    assert {r.doc_id for r in fp_rows} >= set(expected_live["doc_id"].astype(str))

    out = main(["dedup-flags", "--state", dstate, "--token"], spark=spark)
    assert out["cmd"] == "dedup-flags"
    assert out["flags"] >= 0 and isinstance(out["epochs"], list)


def test_cli_dedup_flags_is_read_only_on_missing_state(spark, tmp_path):
    """A summary command must not CREATE state tables on a wrong path or
    wrong layout flag."""
    import os

    bogus = str(tmp_path / "nope")
    out = main(["dedup-flags", "--state", bogus], spark=spark)
    assert "error" in out and "no minhash dedup state" in out["error"]
    assert not os.path.exists(bogus)  # nothing was minted

    out2 = main(["dedup-flags", "--state", bogus, "--token"], spark=spark)
    assert "error" in out2 and "token" in out2["error"]
    assert not os.path.exists(bogus)


def test_cli_ivm_state_tail_and_totals(spark, tmp_path, changelog_dir, changelog_pdf):
    """--ivm-state on tail maintains the per-group view through the
    stream; ivm-totals prints it; the numbers must equal a full GROUP BY
    recompute over the final table."""
    import pandas as pd
    from pyspark.sql import functions as F

    root = str(tmp_path / "tbl")
    istate = str(tmp_path / "istate")
    main(
        ["tail", "--changelog", changelog_dir, "--table", root,
         "--checkpoint", str(tmp_path / "ckpt"), "--n-buckets", "4",
         "--ivm-state", istate, "--ivm-group", "source",
         "--ivm-value", "n_tok"],
        spark=spark,
    )
    out = main(["ivm-totals", "--state", istate], spark=spark)
    assert out["cmd"] == "ivm-totals" and out["groups"] > 0

    from data_hub_ejp_xml_pipeline_spark.table import SnapshotTable

    want = {
        r[0]: {"cnt": r[1], "total": r[2]}
        for r in SnapshotTable(spark, root)
        .read()
        .groupBy("source")
        .agg(F.count("*").alias("cnt"), F.sum("n_tok").cast("double").alias("total"))
        .collect()
    }
    assert out["totals"] == want

    # state identity: reopening with a conflicting group column raises
    from data_hub_ejp_xml_pipeline_spark.plans.ivm import IncrementalAggState

    with pytest.raises(ValueError, match="groups by"):
        IncrementalAggState(spark, istate, group_col="doc_id")
    adopted = IncrementalAggState(spark, istate)
    assert adopted.group_col == "source" and adopted.value_col == "n_tok"


def test_cli_ivm_totals_read_only_on_missing_state(spark, tmp_path):
    import os

    bogus = str(tmp_path / "nope")
    out = main(["ivm-totals", "--state", bogus], spark=spark)
    assert "error" in out and "no ivm state" in out["error"]
    assert not os.path.exists(bogus)


def test_cli_ivm_state_rejected_on_mor(spark, tmp_path, changelog_dir):
    with pytest.raises(SystemExit, match="COW pipeline"):
        main(
            ["tail", "--changelog", changelog_dir, "--table",
             str(tmp_path / "m"), "--checkpoint", str(tmp_path / "ck"),
             "--mor", "--ivm-state", str(tmp_path / "i"),
             "--ivm-group", "source"],
            spark=spark,
        )


def test_cli_scd2_state_tail_and_history(spark, tmp_path, changelog_dir, changelog_pdf):
    """--scd2-state on tail maintains the type-2 history through the
    stream; scd2-history summarizes it. Invariants: open versions equal
    the base table's live rows, and the as-of view at the max LSN equals
    the current view."""
    root = str(tmp_path / "tbl")
    sstate = str(tmp_path / "sstate")
    out = main(
        ["tail", "--changelog", changelog_dir, "--table", root,
         "--checkpoint", str(tmp_path / "ckpt"), "--n-buckets", "4",
         "--scd2-state", sstate],
        spark=spark,
    )
    hist = main(["scd2-history", "--state", sstate], spark=spark)
    assert hist["cmd"] == "scd2-history"
    assert hist["current"] == out["final_rows"]
    assert hist["versions"] >= hist["current"]
    assert hist["versions"] == hist["current"] + hist["closed"]

    as_of = main(
        ["scd2-history", "--state", sstate, "--as-of", str(hist["max_lsn"])],
        spark=spark,
    )
    assert as_of["rows"] == hist["current"]

    # a second drain of the same checkpoint replays nothing: history
    # unchanged (the ledgered merge no-ops on replayed epochs)
    main(
        ["tail", "--changelog", changelog_dir, "--table", root,
         "--checkpoint", str(tmp_path / "ckpt"), "--n-buckets", "4",
         "--scd2-state", sstate],
        spark=spark,
    )
    hist2 = main(["scd2-history", "--state", sstate], spark=spark)
    assert hist2 == hist


def test_cli_scd2_history_read_only_on_missing_state(spark, tmp_path):
    import os

    bogus = str(tmp_path / "nope")
    out = main(["scd2-history", "--state", bogus], spark=spark)
    assert "error" in out and "no scd2 state" in out["error"]
    assert not os.path.exists(bogus)


def test_cli_scd2_state_rejected_on_mor(spark, tmp_path, changelog_dir):
    with pytest.raises(SystemExit, match="COW pipeline"):
        main(
            ["tail", "--changelog", changelog_dir, "--table",
             str(tmp_path / "m"), "--checkpoint", str(tmp_path / "ck"),
             "--mor", "--scd2-state", str(tmp_path / "s")],
            spark=spark,
        )


def test_cli_dlq_state_tail_and_show(spark, tmp_path):
    """--dlq-state on tail quarantines invalid events; dlq-show summarizes
    them; the merged table holds only the valid subset."""
    from data_hub_ejp_xml_pipeline_spark.generator import write_changelog_files
    from data_hub_ejp_xml_pipeline_spark.oracle import expected_final_state_pandas
    from tests.test_dlq import _dirty_pdf, _expected_reasons

    pdf = _dirty_pdf(n_events=1_200, seed=3)
    d = str(tmp_path / "dirty")
    write_changelog_files(pdf, d, 3)
    out = main(
        ["tail", "--changelog", d, "--table", str(tmp_path / "tbl"),
         "--checkpoint", str(tmp_path / "ckpt"), "--n-buckets", "4",
         "--dlq-state", str(tmp_path / "dlq")],
        spark=spark,
    )
    reasons = _expected_reasons(pdf)
    clean = pdf[reasons.isna()].copy()
    clean["lsn"] = clean["lsn"].astype("int64")
    assert out["final_rows"] == len(expected_final_state_pandas(clean))

    show = main(["dlq-show", "--state", str(tmp_path / "dlq")], spark=spark)
    assert show["rejects"] == int(reasons.notna().sum())
    assert show["by_reason"] == reasons.dropna().value_counts().to_dict()


def test_cli_dlq_show_read_only_on_missing_state(spark, tmp_path):
    import os

    bogus = str(tmp_path / "nope")
    out = main(["dlq-show", "--state", bogus], spark=spark)
    assert "error" in out and "no dlq state" in out["error"]
    assert not os.path.exists(bogus)


def test_cli_index_state_tail_and_lookup(spark, tmp_path, changelog_dir, changelog_pdf):
    """--index-state on tail maintains the inverted index through the
    stream; index-lookup serves one value's keys, equal to a filtered
    projection of the final table."""
    from data_hub_ejp_xml_pipeline_spark.oracle import expected_final_state_pandas

    root = str(tmp_path / "tbl")
    istate = str(tmp_path / "idx")
    main(
        ["tail", "--changelog", changelog_dir, "--table", root,
         "--checkpoint", str(tmp_path / "ckpt"), "--n-buckets", "4",
         "--index-state", istate, "--index-col", "source"],
        spark=spark,
    )
    final = expected_final_state_pandas(changelog_pdf)
    value = str(final["source"].dropna().iloc[0])
    want = sorted(final[final["source"] == value]["doc_id"])
    out = main(["index-lookup", "--state", istate, "--value", value], spark=spark)
    assert out["n"] == len(want)
    assert out["keys"] == want[:100]


def test_cli_index_lookup_read_only_on_missing_state(spark, tmp_path):
    import os

    bogus = str(tmp_path / "nope")
    out = main(["index-lookup", "--state", bogus, "--value", "x"], spark=spark)
    assert "error" in out and "no index state" in out["error"]
    assert not os.path.exists(bogus)


def test_cli_index_state_rejected_on_mor(spark, tmp_path, changelog_dir):
    with pytest.raises(SystemExit, match="COW pipeline"):
        main(
            ["tail", "--changelog", changelog_dir, "--table",
             str(tmp_path / "m"), "--checkpoint", str(tmp_path / "ck"),
             "--mor", "--index-state", str(tmp_path / "i"),
             "--index-col", "source"],
            spark=spark,
        )


def test_cli_scan_range(spark, tmp_path):
    """scan-range serves a zone-map file-skipping scan over a stats
    column and reports how many files it actually opened."""
    from pyspark.sql import functions as F
    from tests.test_zone_maps import PAYLOAD, _changelog

    from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import SnapshotTable

    root = str(tmp_path / "t")
    t = SnapshotTable.create(spark, root, PAYLOAD, key="doc_id", n_buckets=4,
                             files_per_bucket=4, stats_cols=["n_tok"])
    t.merge(_changelog(spark, 2_000), batch_id=0)
    t.compact_files(max_files_per_bucket=1)
    out = main(["scan-range", "--table", root, "--col", "n_tok",
                "--lo", "0", "--hi", "99"], spark=spark)
    assert out["rows"] == 100
    assert 0 < out["files_read"] < out["files_total"]


def test_cli_rebucket_and_set_stats_cols(spark, tmp_path):
    from tests.test_zone_maps import PAYLOAD, _changelog

    from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import SnapshotTable

    root = str(tmp_path / "t")
    t = SnapshotTable.create(spark, root, PAYLOAD, key="doc_id", n_buckets=2)
    t.merge(_changelog(spark, 500), batch_id=0)
    n = t.read().count()

    out = main(["rebucket", "--table", root, "--n-buckets", "8"], spark=spark)
    assert out["applied"] and out["rows_rewritten"] >= n
    assert main(["show", "--table", root], spark=spark)["n_buckets"] == 8

    out = main(["set-stats-cols", "--table", root, "--cols", "n_tok"], spark=spark)
    assert out["applied"] and out["cols"] == ["n_tok"]
    sc = main(["scan-range", "--table", root, "--col", "n_tok",
               "--lo", "0", "--hi", "10"], spark=spark)
    assert sc["rows"] == 11


def test_cli_delete_and_update_where(spark, tmp_path):
    from tests.test_zone_maps import PAYLOAD, _changelog

    from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import SnapshotTable

    root = str(tmp_path / "t")
    t = SnapshotTable.create(spark, root, PAYLOAD, key="doc_id", n_buckets=2)
    t.merge(_changelog(spark, 200), batch_id=0)

    out = main(["update-where", "--table", root, "--where", "n_tok < 10",
                "--set", "source=concat(source, '-fixed')", "--batch-id", "1"],
               spark=spark)
    assert out["applied"] and out["columns"] == ["source"]
    assert t.read().filter("source like '%-fixed'").count() == 10

    out = main(["delete-where", "--table", root, "--where", "n_tok >= 100",
                "--batch-id", "2"], spark=spark)
    assert out["applied"] and not out["hard"]
    assert t.read().count() == 100
    # ledgered replay no-ops
    out = main(["delete-where", "--table", root, "--where", "n_tok >= 100",
                "--batch-id", "2"], spark=spark)
    assert out["applied"] is False


def test_cli_tag_and_drop_tag(spark, tmp_path):
    from tests.test_zone_maps import PAYLOAD, _changelog

    from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import SnapshotTable

    root = str(tmp_path / "t")
    t = SnapshotTable.create(spark, root, PAYLOAD, key="doc_id", n_buckets=2)
    t.merge(_changelog(spark, 200), batch_id=0)
    out = main(["tag", "--table", root, "--name", "rc1"], spark=spark)
    assert out["tags"] == {"rc1": out["version"]}
    assert main(["show", "--table", root], spark=spark)["tags"] == out["tags"]
    out = main(["drop-tag", "--table", root, "--name", "rc1"], spark=spark)
    assert out["tags"] == {}


def test_cli_changefeed_replicates_table(spark, tmp_path):
    """changefeed writes a changelog a second table can apply and reach
    the identical final state — CDC-out through the CLI."""
    from pyspark.sql import functions as F
    from tests.test_zone_maps import PAYLOAD, _changelog

    from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import SnapshotTable

    root = str(tmp_path / "src")
    t = SnapshotTable.create(spark, root, PAYLOAD, key="doc_id", n_buckets=2)
    t.merge(_changelog(spark, 400), batch_id=0)
    deletes = _changelog(spark, 50, lsn0=10_001).withColumn("op", F.lit("D"))
    t.merge(deletes, batch_id=1)

    feed_dir = str(tmp_path / "feed")
    out = main(["changefeed", "--table", root, "--from-version", "0",
                "--out", feed_dir], spark=spark)
    assert out["events"] > 0

    out2 = main(["apply", "--changelog", feed_dir,
                 "--table", str(tmp_path / "dst"), "--batch-id", "0",
                 "--n-buckets", "2"], spark=spark)
    assert out2["applied"]
    dst = {
        tuple(r)
        for r in SnapshotTable(spark, str(tmp_path / "dst"))
        .read().select(*[f.name for f in PAYLOAD.fields], "_lsn").collect()
    }
    src_cmp = {tuple(r) for r in t.read()
               .select(*[f.name for f in PAYLOAD.fields], "_lsn").collect()}
    assert dst == src_cmp


def test_cli_maintain(spark, tmp_path):
    from tests.test_zone_maps import PAYLOAD, _changelog

    from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import SnapshotTable

    root = str(tmp_path / "t")
    t = SnapshotTable.create(spark, root, PAYLOAD, key="doc_id", n_buckets=2,
                             stats_cols=["_lsn"])
    t.merge(_changelog(spark, 300), batch_id=0)
    t.delete_where("n_tok < 50")
    out = main(["maintain", "--table", root, "--keep-snapshots", "1",
                "--vacuum-slack-lsn", "0"], spark=spark)
    assert out["cmd"] == "maintain" and out["vacuumed"]
    assert t.read(include_tombstones=True).filter("_deleted").count() == 0
    assert t.read().count() == 250


def test_cli_tail_with_placeholder_cols(spark, tmp_path):
    """--placeholder-cols on tail resolves the unchanged-TOAST sentinel
    through the stream (in-batch + cross-epoch table fill)."""
    import pandas as pd

    from data_hub_ejp_xml_pipeline_spark.generator import (
        generate_changelog_pandas,
    )
    from data_hub_ejp_xml_pipeline_spark.operators.partial import UNAVAILABLE
    from data_hub_ejp_xml_pipeline_spark.table import SnapshotTable

    pdf = generate_changelog_pandas(
        n_events=1_200, seed=9, replay_fraction=0.0, shuffle_window=1
    )
    mask = (pdf["op"] == "U") & (pdf["lsn"] % 3 == 0)
    pdf.loc[mask, "source"] = UNAVAILABLE
    d = str(tmp_path / "chg")
    write_changelog_files(pdf, d, 4)
    root = str(tmp_path / "tbl")
    out = main(
        ["tail", "--changelog", d, "--table", root,
         "--checkpoint", str(tmp_path / "ckpt"), "--n-buckets", "4",
         "--max-files-per-trigger", "1", "--placeholder-cols", "source"],
        spark=spark,
    )
    assert out["epochs"] >= 4
    srcs = {
        r["source"]
        for r in SnapshotTable(spark, root).read().select("source").collect()
    }
    assert UNAVAILABLE not in srcs and srcs


def test_cli_fsck(spark, tmp_path):
    import os

    from tests.test_zone_maps import PAYLOAD, _changelog

    from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import SnapshotTable

    root = str(tmp_path / "t")
    t = SnapshotTable.create(spark, root, PAYLOAD, key="doc_id", n_buckets=2)
    t.merge(_changelog(spark, 200), batch_id=0)
    out = main(["fsck", "--table", root, "--deep"], spark=spark)
    assert out["cmd"] == "fsck" and out["ok"] and out["rows_scanned"] == 200
    os.remove(os.path.join(root, t.manifest()["files"][0]["path"]))
    out = main(["fsck", "--table", root], spark=spark)
    assert not out["ok"] and any("missing" in e for e in out["errors"])
