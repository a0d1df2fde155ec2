"""Point-lookup serve path: ``SnapshotTable.lookup`` semantics equal
``read().filter(key IN ...)`` while the plan reads only bucket- and
range-pruned manifest entries, on the driver with Arrow, and runs no Spark
job. The Arrow read must match the Spark read across empty per-file
results, nested and top-level schema evolution, timestamps and widened
columns.

Reference scope note: the reference pipeline has no point-lookup or table
format at all (it re-reads whole BigQuery tables); this is part of the
engine's 100 TB serve-path surface, same family as the bucket-pruned IVF
reads in plans/ann_index.py.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_hub_ejp_xml_pipeline_spark.operators.lww import reduce_latest
from data_hub_ejp_xml_pipeline_spark.schemas import TARGET_SCHEMA
from data_hub_ejp_xml_pipeline_spark.table import SnapshotTable

PAYLOAD_SCHEMA = T.StructType([f for f in TARGET_SCHEMA.fields if f.name != "_lsn"])


@pytest.fixture(scope="module")
def lookup_table(spark, tmp_path_factory, changelog_df):
    root = str(tmp_path_factory.mktemp("lookup") / "tbl")
    table = SnapshotTable.create(
        spark, root, PAYLOAD_SCHEMA, key="doc_id", n_buckets=8
    )
    lo, hi = changelog_df.agg(F.min("lsn"), F.max("lsn")).first()
    mid = (lo + hi) // 2
    table.merge(reduce_latest(changelog_df.filter(F.col("lsn") <= mid)), batch_id=0)
    table.merge(reduce_latest(changelog_df.filter(F.col("lsn") > mid)), batch_id=1)
    return table


def _some_keys(table, n=12):
    rows = (
        table.read()
        .select("doc_id")
        .orderBy("doc_id")
        .limit(n)
        .collect()
    )
    return [r[0] for r in rows]


def test_lookup_matches_read_filter(spark, lookup_table):
    keys = _some_keys(lookup_table) + ["doc-absent-1", "doc-absent-2"]
    got = {
        tuple(r)
        for r in lookup_table.lookup(keys)
        .select("doc_id", "n_tok", "source", "_lsn")
        .collect()
    }
    want = {
        tuple(r)
        for r in lookup_table.read()
        .filter(F.col("doc_id").isin(keys))
        .select("doc_id", "n_tok", "source", "_lsn")
        .collect()
    }
    assert got == want and len(want) == 12


def test_lookup_prunes_buckets_and_ranges(spark, lookup_table):
    keys = _some_keys(lookup_table, n=3)
    m = lookup_table.manifest()
    entries = lookup_table._lookup_entries(keys, m)
    # independent bucket computation with the same recorded hash
    kdf = spark.createDataFrame([(k,) for k in keys], "doc_id: string")
    fn = m.get("bucket_hash", "xxhash64")
    hashed = F.hash("doc_id") if fn == "murmur3" else F.xxhash64("doc_id")
    probed = {
        r[0]
        for r in kdf.select(
            F.pmod(hashed, F.lit(m["n_buckets"])).cast("int")
        ).collect()
    }
    assert {f["bucket"] for f in entries} <= probed
    assert 0 < len(entries) < len(m["files"])
    # every file a probed key actually lives in must survive the pruning
    # (completeness of the prune, not just soundness)
    got = {r[0] for r in lookup_table.lookup(keys).select("doc_id").collect()}
    assert got == set(keys)


def test_lookup_time_travel(spark, lookup_table, changelog_df):
    keys = _some_keys(lookup_table, n=5)
    v_now = lookup_table.current_version()
    old = lookup_table.lookup(keys, version=v_now)
    # a later merge moving these keys must not change the pinned-version view
    bump = (
        lookup_table.lookup(keys)
        .select(
            "doc_id",
            "tokens",
            (F.col("n_tok") + 1).alias("n_tok"),
            "source",
            (F.col("_lsn") + 10_000_000).alias("lsn"),
        )
        .withColumn("op", F.lit("U"))
    )
    lookup_table.merge(reduce_latest(bump), batch_id=2)
    pinned = {
        tuple(r)
        for r in lookup_table.lookup(keys, version=v_now)
        .select("doc_id", "n_tok")
        .collect()
    }
    assert pinned == {tuple(r) for r in old.select("doc_id", "n_tok").collect()}
    now = {
        tuple(r)
        for r in lookup_table.lookup(keys).select("doc_id", "n_tok").collect()
    }
    assert now == {(d, n + 1) for d, n in pinned}


def test_lookup_tombstones(spark, tmp_path, changelog_df):
    table = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), PAYLOAD_SCHEMA, key="doc_id", n_buckets=4
    )
    table.merge(reduce_latest(changelog_df), batch_id=0)
    key = table.read().select("doc_id").orderBy("doc_id").first()[0]
    delete = spark.createDataFrame(
        [(key, None, None, None, 99_000_000, "D")],
        "doc_id: string, tokens: array<int>, n_tok: int, source: string, "
        "lsn: long, op: string",
    )
    table.merge(reduce_latest(delete), batch_id=1)
    assert table.lookup([key]).count() == 0
    graves = table.lookup([key], include_tombstones=True)
    assert [r[0] for r in graves.select("_deleted").collect()] == [True]


def test_lookup_empty_and_cap(spark, lookup_table):
    empty = lookup_table.lookup([])
    assert empty.count() == 0
    assert empty.columns == lookup_table.read().columns
    with pytest.raises(ValueError, match="join the key set"):
        lookup_table.lookup(
            [f"k{i}" for i in range(SnapshotTable.LOOKUP_MAX_KEYS + 1)]
        )
    with pytest.raises(ValueError, match="must not contain None"):
        lookup_table.lookup(["doc-00000001", None])


def test_mor_lookup_matches_view(spark, tmp_path, changelog_df):
    """MOR point lookup == final_state().filter(isin) across keys living
    in the compacted base, the staged deltas, and both (delta must
    outrank base), plus a deleted and an absent key."""
    from data_hub_ejp_xml_pipeline_spark.plans.mor_pipeline import MorPipeline

    pipe = MorPipeline(
        spark, str(tmp_path / "mor"), n_buckets=4, k_compact=2
    )
    lo, hi = changelog_df.agg(F.min("lsn"), F.max("lsn")).first()
    step = (hi - lo) // 3 + 1
    for i in range(3):  # 2 epochs compact into base, 1 stays staged
        batch = changelog_df.filter(
            (F.col("lsn") >= lo + i * step) & (F.col("lsn") < lo + (i + 1) * step)
        )
        pipe.apply(batch, batch_id=i)
    view = pipe.final_state()
    keys = [r[0] for r in view.select("doc_id").orderBy("doc_id").limit(15).collect()]
    deleted = (
        changelog_df.filter(F.col("op") == "D")
        .join(view, "doc_id", "left_anti")
        .select("doc_id")
        .first()
    )
    if deleted:
        keys.append(deleted[0])
    keys.append("doc-absent")
    got = {
        tuple(r)
        for r in pipe.lookup(keys).select("doc_id", "n_tok", "_lsn").collect()
    }
    want = {
        tuple(r)
        for r in view.filter(F.col("doc_id").isin(keys))
        .select("doc_id", "n_tok", "_lsn")
        .collect()
    }
    assert got == want and len(want) == 15


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_lookup_runs_no_spark_job(spark, lookup_table):
    keys = _some_keys(lookup_table, n=8) + ["doc-absent-1"]
    sc = spark.sparkContext
    try:
        sc.setJobGroup("lookup-no-job", "lookup")
        got = lookup_table.lookup(keys).select("doc_id", "n_tok", "_lsn").collect()
        assert sc.statusTracker().getJobIdsForGroup("lookup-no-job") == []
        # the probe sees jobs: the same rows through a Spark scan run some
        sc.setJobGroup("lookup-scan", "read")
        want = (
            lookup_table.read()
            .filter(F.col("doc_id").isin(keys))
            .select("doc_id", "n_tok", "_lsn")
            .collect()
        )
        assert sc.statusTracker().getJobIdsForGroup("lookup-scan")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and len(got) == 8
    assert lookup_table.lookup(keys).schema == lookup_table.read().schema


def test_lookup_first_files_without_match(spark, lookup_table):
    """Files whose pruned read matches no key (empty Arrow results) come
    before the one file holding the live keys; every row still returns."""
    m = lookup_table.manifest()
    last = m["files"][-1]
    present = sorted(
        pq.read_table(
            os.path.join(lookup_table.root, last["path"]), columns=["doc_id"]
        ).column("doc_id").to_pylist()
    )[:3]
    # absent keys sorting inside every file's key range, hashing elsewhere
    absent = [f"{k}~" for k in _some_keys(lookup_table, n=30)]
    keys = present + absent
    entries = lookup_table._lookup_entries(keys, m)
    assert len(entries) > 1 and entries[-1]["path"] == last["path"]
    for graves in (False, True):
        want = _rows(
            lookup_table.read(include_tombstones=graves).filter(F.col("doc_id").isin(keys))
        )
        got = _rows(lookup_table.lookup(keys, include_tombstones=graves))
        assert want and got == want


def _merge(spark, table, rows, ddl, batch_id):
    df = spark.createDataFrame(rows, ddl + ", lsn long, op string")
    table.merge(df, batch_id=batch_id)


def _old_files_carried(table):
    """The first merge's files are still live, so the lookup reads files
    written under the old schema."""
    old = {f["path"] for f in table.manifest(1)["files"]}
    return bool(old & {f["path"] for f in table.manifest()["files"]})


def test_lookup_nested_schema_evolution(spark, tmp_path):
    """An old file has struct<a> / array<struct<x>>; a later merge adds a
    nested field. Old rows read the new field as null, as Spark does."""
    v1 = "k string, meta struct<a:int>, items array<struct<x:int>>"
    table = SnapshotTable.create(
        spark, str(tmp_path / "nested"), T.StructType.fromDDL(v1), key="k",
        n_buckets=2,
    )
    _merge(spark, table, [(f"a{i:02d}", (i,), [(i,)], i, "I") for i in range(10)], v1, 0)
    v2 = "k string, meta struct<a:int,b:string>, items array<struct<x:int,y:string>>"
    # keys sorting after every old key: the old files carry forward unread
    _merge(
        spark, table,
        [(f"b{i:02d}", (i, f"b{i}"), [(i, f"y{i}"), None], 100 + i, "I") for i in range(10)],
        v2, 1,
    )
    assert _old_files_carried(table)
    keys = ["a01", "a05", "b02", "b07", "c00"]
    want = _rows(table.read().filter(F.col("k").isin(keys)))
    got = _rows(table.lookup(keys))
    assert got == want and len(got) == 4
    by_key = {r["k"]: r for r in table.lookup(keys).collect()}
    assert by_key["a01"]["meta"]["a"] == 1 and by_key["a01"]["meta"]["b"] is None
    assert by_key["a01"]["items"][0]["y"] is None
    assert by_key["b02"]["meta"]["b"] == "b2" and by_key["b02"]["items"][1] is None


def test_lookup_timestamp_widening_added_column(spark, tmp_path):
    v1 = "k string, ts timestamp, n int"
    table = SnapshotTable.create(
        spark, str(tmp_path / "evolve"), T.StructType.fromDDL(v1), key="k",
        n_buckets=2,
    )
    t0 = dt.datetime(2024, 3, 1, 12, 30, 15, 123456, tzinfo=dt.timezone.utc)
    _merge(
        spark, table,
        [(f"a{i:02d}", t0 + dt.timedelta(hours=i), i, i, "I") for i in range(9)]
        + [("a09", None, None, 9, "I")],
        v1, 0,
    )
    v2 = "k string, ts timestamp, n long, extra string"
    _merge(
        spark, table,
        [(f"b{i:02d}", t0, 2**40 + i, f"e{i}", 100 + i, "I") for i in range(10)],
        v2, 1,
    )
    assert _old_files_carried(table)
    schema = table.schema()
    assert schema["n"].dataType == T.LongType() and "extra" in schema.names
    keys = ["a00", "a03", "a09", "b01", "b09"]
    want = _rows(table.read().filter(F.col("k").isin(keys)))
    got = _rows(table.lookup(keys))
    assert got == want and len(got) == 5
    extra = {r["k"]: r["extra"] for r in table.lookup(keys).collect()}
    assert extra["a03"] is None and extra["b01"] == "e1"  # added column


def test_lookup_time_travel_across_rebucket(spark, lookup_table, tmp_path):
    clone = lookup_table.clone(str(tmp_path / "rb"))
    keys = _some_keys(clone, n=6) + ["doc-absent-1"]
    v = clone.current_version()
    before = _rows(clone.lookup(keys))
    clone.rebucket(3)
    assert _rows(clone.lookup(keys, version=v)) == before
    assert _rows(clone.lookup(keys)) == before
    assert _rows(clone.read(version=v).filter(F.col("doc_id").isin(keys))) == before
