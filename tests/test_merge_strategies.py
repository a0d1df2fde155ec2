"""The single merge plan (pruned sort-merge full outer join) on the edges
the shared-fixture suites do not reach: the oracle over two merges, the
refused round-1 bucket format, LSNs above 2^53, a failing stats
pre-pass, the join's task count sized by the bytes a merge rewrites, the
tasks a write reports, the rows a merge's pruned target read returns, and
the Spark jobs of a full-fan-out epoch (no third shuffle before the
bucket-aligned write) and of an epoch with sidecar states attached."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_hub_ejp_xml_pipeline_spark.generator import spark_changelog_from_pandas
from data_hub_ejp_xml_pipeline_spark.operators.lww import reduce_latest
from data_hub_ejp_xml_pipeline_spark.oracle import (
    assert_final_state_equal,
    expected_final_state_pandas,
)
from data_hub_ejp_xml_pipeline_spark.plans.pipeline import PAYLOAD_SCHEMA
from data_hub_ejp_xml_pipeline_spark.table import SnapshotTable


def test_two_merges_match_oracle(spark, tmp_path, changelog_pdf):
    """Two merges of the changelog's halves into a murmur3-bucketed table
    end at the oracle's final state with no key in two buckets."""
    table = SnapshotTable.create(
        spark, str(tmp_path / "two"), PAYLOAD_SCHEMA, n_buckets=8
    )
    n = len(changelog_pdf)
    for i, (lo, hi) in enumerate([(0, n // 2), (n // 2, n)]):
        batch = spark_changelog_from_pandas(spark, changelog_pdf.iloc[lo:hi])
        table.merge(reduce_latest(batch), batch_id=i)
    assert table.manifest()["bucket_hash"] == "murmur3"  # carried forward
    actual = (
        table.read().selectExpr("doc_id", "tokens", "n_tok", "source", "_lsn").toPandas()
    )
    assert_final_state_equal(actual, expected_final_state_pandas(changelog_pdf))
    # no duplicate keys (the failure mode of a bucket-function change)
    assert table.read().count() == table.read().select("doc_id").distinct().count()


def test_manifest_without_bucket_hash_raises(spark, tmp_path, changelog_pdf):
    """The round-1 table format (xxhash64 buckets, no ``bucket_hash`` in
    the manifest) is not read: a write names the missing field instead of
    bucketing rows with the wrong hash."""
    import json
    import os

    table = SnapshotTable.create(
        spark, str(tmp_path / "legacy"), PAYLOAD_SCHEMA, n_buckets=8
    )
    v0 = os.path.join(table.root, "meta", "v00000000.json")
    with open(v0) as fh:
        m = json.load(fh)
    del m["bucket_hash"]
    with open(v0, "w") as fh:
        json.dump(m, fh)
    batch = spark_changelog_from_pandas(spark, changelog_pdf.iloc[:100])
    with pytest.raises(ValueError, match="bucket_hash"):
        table.merge(reduce_latest(batch), batch_id=0)
    assert table.current_version() == 0


def test_merge_preserves_lsns_above_2_53(spark, tmp_path):
    """LSNs must never round-trip through float64: the engine's mtime-major
    LSNs (~7.5e18) exceed 2^53 and would be corrupted by up to the float
    ulp (~1024) — in the merge guard, the stored value and a replay."""
    payload = T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("v", T.StringType())]
    )
    table = SnapshotTable.create(spark, str(tmp_path / "big"), payload, n_buckets=2)
    base = 7_500_000_000_000_000_001  # > 2^53, odd (not float-representable)
    b1 = spark.createDataFrame(
        [(base, "U", "k1", "old"), (base + 1, "U", "k2", "x")],
        "lsn long, op string, doc_id string, v string",
    )
    table.merge(b1, batch_id=0)
    # update k1 with lsn base+2; a float64 path could see base == base+2
    b2 = spark.createDataFrame(
        [(base + 2, "U", "k1", "new")], "lsn long, op string, doc_id string, v string"
    )
    table.merge(b2, batch_id=1)
    rows = {r.doc_id: r for r in table.read().collect()}
    assert rows["k1"].v == "new"
    assert rows["k1"]._lsn == base + 2  # exact, not rounded
    assert rows["k2"]._lsn == base + 1
    # and a REPLAY with the stored lsn must be a no-op, not a flip-flop
    table.merge(b2, batch_id=2)
    assert {r.doc_id: r._lsn for r in table.read().collect()} == {
        "k1": base + 2, "k2": base + 1
    }


def test_stats_failure_leaves_no_visible_snapshot(spark, tmp_path):
    """If the stats/lineage pre-pass fails, the commit must abort before
    the manifest write — no new version."""
    table = SnapshotTable.create(spark, str(tmp_path / "t"), PAYLOAD_SCHEMA, n_buckets=4)
    good = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["a", "b"],
                "tokens": [[1, 2], [3]],
                "n_tok": [2, 1],
                "source": ["s", "s"],
                "op": ["U", "U"],
                "lsn": [1, 2],
            }
        )
    )
    # stats_df whose evaluation raises: an ANSI divide-by-zero on the
    # second row only, which the full profile aggregation must evaluate
    bad_stats = good.withColumn(
        "offset",
        (F.lit(1) / F.when(F.col("lsn") == 2, F.lit(0)).otherwise(F.lit(1))).cast("long"),
    ).withColumn("source_file", F.lit("f"))
    with pytest.raises(Exception):
        table.merge(good, batch_id=0, stats_df=bad_stats)
    assert table.current_version() == 0


def _merged(spark, table, pdf, batch_id):
    return table.merge(
        reduce_latest(spark_changelog_from_pandas(spark, pdf)), batch_id=batch_id
    )


def test_small_merge_runs_fewer_tasks_but_writes_one_file_per_bucket(
    spark, tmp_path, changelog_pdf
):
    """A small merge into a 16-bucket table runs its join and write in
    fewer than 16 tasks (a divisor of 16, sized by the bytes it rewrites)
    and still adds exactly one file per touched bucket, every row in its
    bucket, ending at the oracle. An empty table's first merge (no rows to
    size from) and a two-files-per-bucket table keep n_buckets *
    files_per_bucket tasks."""
    table = SnapshotTable.create(
        spark, str(tmp_path / "sized"), PAYLOAD_SCHEMA, n_buckets=16
    )
    first, small = changelog_pdf.iloc[:-400], changelog_pdf.iloc[-400:]
    assert _merged(spark, table, first, 0).record["write_tasks"] == 16
    before = {f["path"] for f in table.manifest()["files"]}
    res = _merged(spark, table, small, 1)
    # a full-fan-out merge: every file is rewritten, so the write keeps the
    # join's bucket-aligned layout (no range repartition)
    assert res.record["files_carried"] == 0
    assert res.record["write_tasks"] < 16 and 16 % res.record["write_tasks"] == 0
    touched = {
        r.b for r in spark_changelog_from_pandas(spark, small)
        .select(F.pmod(F.hash("doc_id"), F.lit(16)).alias("b")).distinct().collect()
    }
    added = [f for f in table.manifest()["files"] if f["path"] not in before]
    assert sorted(f["bucket"] for f in added) == sorted(touched)
    chk = table.verify(deep=True)
    assert chk["ok"], chk["errors"]  # no misbucketed row, no row-count drift
    actual = (
        table.read().selectExpr("doc_id", "tokens", "n_tok", "source", "_lsn").toPandas()
    )
    assert_final_state_equal(actual, expected_final_state_pandas(changelog_pdf))

    multi = SnapshotTable.create(
        spark, str(tmp_path / "multi"), PAYLOAD_SCHEMA, n_buckets=4,
        files_per_bucket=2,
    )
    _merged(spark, multi, first, 0)
    res = _merged(spark, multi, small, 1)
    assert res.record["files_carried"] == 0 and res.record["write_tasks"] == 8
    assert sorted(f["bucket"] for f in multi.manifest()["files"]) == [0, 0, 1, 1, 2, 2, 3, 3]


def test_join_partitions_divide_the_buckets():
    """J is the smallest divisor of n_buckets giving each task >= 1 MiB of
    the estimated rewrite, and 1 or at least the session's shuffle
    partitions (Spark raises a smaller co-partitioned count to it);
    max_parts for multi-file buckets and for a table with no rows."""
    from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import _join_partitions

    mib = 1 << 20
    m16 = {"n_buckets": 16, "files_per_bucket": 1}
    # 16 files of 1,000 rows; the batch adds a tenth
    def j(file_bytes, shuffle_partitions=8, m=m16, n_events=1_600):
        return _join_partitions(m, [(1_000, file_bytes)] * 16, n_events, shuffle_partitions)

    assert j(4_000) == 1  # 70 KB rewrite: one task
    assert j(mib // 32) == 1  # 0.55 MiB
    assert j(mib // 8, shuffle_partitions=2) == 4  # 2.2 MiB -> 3 -> next divisor 4
    assert j(mib // 8) == 8  # ... but 4 is below the 8 shuffle partitions
    assert j(mib) == 16  # 17.6 MiB
    assert j(64 * mib) == 16  # never more than the buckets
    assert _join_partitions({"n_buckets": 12}, [(1, 10 * mib)], 0, 8) == 12  # 10 -> 12
    assert _join_partitions({"n_buckets": 12}, [(1, 2 * mib)], 0, 8) == 12  # 2, 3, 4, 6 < 8
    assert j(4_000, m={"n_buckets": 4, "files_per_bucket": 2}) == 8
    assert _join_partitions(m16, [], 500, 8) == 16  # first commit
    assert _join_partitions(m16, [(0, 600)], 500, 8) == 16  # only empty files


def test_write_tasks_counts_the_tasks_that_wrote(spark, tmp_path, changelog_pdf):
    """``write_tasks`` is the number of tasks whose files a commit added,
    read off the part-file names. A 2-bucket, two-files-per-bucket table
    plans its join in 4 partitions, but Spark raises the count of two
    co-partitioned shuffles to the session's 8 shuffle partitions, so the
    merge writes 8 files from 8 tasks, 4 per bucket."""
    import os

    table = SnapshotTable.create(
        spark, str(tmp_path / "fpb2"), PAYLOAD_SCHEMA, n_buckets=2,
        files_per_bucket=2,
    )
    res = _merged(spark, table, changelog_pdf.iloc[:2_000], 0)
    files = table.manifest()["files"]
    tasks = {os.path.basename(f["path"]).split("-")[1] for f in files}
    assert (len(files), len(tasks)) == (8, 8)
    assert sorted(f["bucket"] for f in files) == [0] * 4 + [1] * 4
    assert res.record["write_tasks"] == 8


def test_touched_rows_are_the_rows_a_merge_reads(spark, tmp_path, changelog_pdf):
    """``touched_rows(batch)`` returns the stored rows, tombstones included,
    of exactly the files ``_split_touched_files`` keeps for the batch's
    per-bucket key ranges: the target read of a merge of that batch."""
    import os
    from urllib.parse import urlparse

    from data_hub_ejp_xml_pipeline_spark.table.snapshot_table import (
        _split_touched_files,
    )

    table = SnapshotTable.create(
        spark, str(tmp_path / "touched"), PAYLOAD_SCHEMA, n_buckets=8
    )
    _merged(spark, table, changelog_pdf, 0)
    keys = sorted(changelog_pdf["doc_id"].unique())[:3]
    batch = spark.createDataFrame([(k, "x") for k in keys], "doc_id string, other string")
    ranges: dict = {}
    for b, k in batch.select(F.pmod(F.hash("doc_id"), F.lit(8)), "doc_id").collect():
        lo, hi = ranges.get(b, (k, k))
        ranges[b] = (min(lo, k), max(hi, k))
    touched, carried = _split_touched_files(table.manifest()["files"], ranges)
    assert touched and carried  # the prune has files to skip
    paths = {os.path.join(table.root, f["path"]) for f in touched}

    got = table.touched_rows(batch)
    assert {urlparse(u).path for u in got.inputFiles()} == paths
    every = table.read(include_tombstones=True)
    assert got.columns == every.columns
    want = {
        r.doc_id: {c: r[c] for c in every.columns}
        for r in every.withColumn("_f", F.input_file_name()).collect()
        if urlparse(r._f).path in paths
    }
    rows = [r.asDict() for r in got.collect()]
    assert any(r["_deleted"] for r in rows)  # tombstones are returned
    assert len(rows) == len(want) and {r["doc_id"]: r for r in rows} == want


def _epoch_jobs(spark, group, epoch):
    """``epoch()``'s result and the ids of the Spark jobs it ran, those of
    its driver threads included (they keep the caller's job group)."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, "epoch")
        res = epoch()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return res, sc.statusTracker().getJobIdsForGroup(group)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)


def test_full_fan_out_epoch_runs_six_spark_jobs(spark, tmp_path, changelog_pdf):
    """A MergePipeline epoch that rewrites every file runs six Spark jobs:
    the pre-pass aggregation (its shuffle stage and result), the shuffle
    stages of the LWW reduce and of both join inputs, and the parquet
    write. A third shuffle before the write (a range repartition and its
    sampling job) would add jobs here."""
    from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline

    pipe = MergePipeline(spark, str(tmp_path / "jobs"), n_buckets=16)
    pipe.apply(spark_changelog_from_pandas(spark, changelog_pdf.iloc[:-400]), batch_id=0)
    batch = spark_changelog_from_pandas(spark, changelog_pdf.iloc[-400:])
    res, jobs = _epoch_jobs(
        spark, "full-fan-out-epoch", lambda: pipe.apply(batch, batch_id=1)
    )
    assert res.record["files_carried"] == 0
    assert len(jobs) == 6, sorted(jobs)


def test_sidecar_epoch_runs_forty_spark_jobs(spark, tmp_path, changelog_pdf):
    """The same epoch with the three states that read the pre-epoch base
    attached (aggregate view, type-2 history, secondary index) runs 40
    Spark jobs: the six of the base merge, and for each state one
    key-range aggregation for its touched-rows read plus the jobs of its
    own commit."""
    from data_hub_ejp_xml_pipeline_spark.plans.ivm import IncrementalAggState
    from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline
    from data_hub_ejp_xml_pipeline_spark.plans.scd2 import Scd2State
    from data_hub_ejp_xml_pipeline_spark.plans.secondary_index import (
        SecondaryIndexState,
    )

    root = str(tmp_path)
    pipe = MergePipeline(
        spark, root + "/tbl", n_buckets=16,
        ivm_state=IncrementalAggState(
            spark, root + "/ivm", group_col="source", value_col="n_tok"
        ),
        scd2_state=Scd2State(
            spark, root + "/scd2", payload_schema=PAYLOAD_SCHEMA, n_buckets=2
        ),
        index_state=SecondaryIndexState(
            spark, root + "/idx", index_col="source", n_buckets=2
        ),
    )
    pipe.apply(spark_changelog_from_pandas(spark, changelog_pdf.iloc[:-400]), batch_id=0)
    batch = spark_changelog_from_pandas(spark, changelog_pdf.iloc[-400:])
    res, jobs = _epoch_jobs(
        spark, "sidecar-epoch", lambda: pipe.apply(batch, batch_id=1)
    )
    assert res.applied and res.record["files_carried"] == 0
    assert len(jobs) == 40, sorted(jobs)
