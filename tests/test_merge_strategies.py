"""The single merge plan (pruned sort-merge full outer join) on the edges
the shared-fixture suites do not reach: the oracle over two merges, the
refused round-1 bucket format, LSNs above 2^53, and a failing stats
pre-pass."""

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
