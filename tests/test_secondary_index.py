"""Secondary index maintenance: an inverted (value → keys) index kept
in lockstep with the base CDC table, per epoch, without base or index
rescans — and served with bucket-pruned reads."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_hub_ejp_xml_pipeline_spark.generator import generate_changelog_pandas
from data_hub_ejp_xml_pipeline_spark.oracle import expected_final_state_pandas
from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline
from data_hub_ejp_xml_pipeline_spark.plans.secondary_index import SecondaryIndexState


def _expected_index(pdf: pd.DataFrame) -> set[tuple[str, str]]:
    final = expected_final_state_pandas(pdf)
    live = final[final["source"].notna()]
    return set(zip(live["source"].astype(str), live["doc_id"].astype(str)))


def _apply_epochs(spark, pdf, root, idx_root, n_epochs=3):
    idx = SecondaryIndexState(spark, idx_root, index_col="source", n_buckets=4)
    pipe = MergePipeline(spark, root, n_buckets=4, index_state=idx)
    lo, hi = int(pdf["lsn"].min()), int(pdf["lsn"].max())
    step = (hi - lo) // n_epochs + 1
    from data_hub_ejp_xml_pipeline_spark.generator import spark_changelog_from_pandas

    df = spark_changelog_from_pandas(spark, pdf)
    for i in range(n_epochs):
        batch = df.filter(
            (F.col("lsn") >= lo + i * step) & (F.col("lsn") < lo + (i + 1) * step)
        )
        pipe.apply(batch, batch_id=i)
    return pipe, idx


def test_index_matches_final_state(spark, tmp_path):
    pdf = generate_changelog_pandas(n_events=3_000, seed=17)
    pipe, idx = _apply_epochs(
        spark, pdf, str(tmp_path / "tbl"), str(tmp_path / "idx")
    )
    got = {
        (r[0], r[1]) for r in idx.read_index().collect()
    }
    assert got == _expected_index(pdf)

    # a single-value lookup equals the base's filtered projection,
    # through the bucket-pruned path
    value = pdf["source"].dropna().iloc[0]
    want = {k for v, k in _expected_index(pdf) if v == str(value)}
    assert {r[0] for r in idx.lookup(value).collect()} == want


def test_index_value_change_and_delete(spark, tmp_path):
    rows = [
        (1, "U", "d1", "A"),
        (2, "U", "d2", "A"),
        (3, "U", "d3", "B"),
    ]
    df0 = spark.createDataFrame(rows, "lsn long, op string, doc_id string, source string")
    idx = SecondaryIndexState(spark, str(tmp_path / "idx"), index_col="source")
    pipe = MergePipeline(
        spark, str(tmp_path / "tbl"), n_buckets=4, index_state=idx,
        payload_schema=df0.drop("lsn", "op").schema,
    )
    pipe.apply(df0, batch_id=0)
    assert {(r[0], r[1]) for r in idx.read_index().collect()} == {
        ("A", "d1"), ("A", "d2"), ("B", "d3"),
    }
    # d1 moves A→B, d2 is deleted, d3 re-asserts B unchanged (no-op)
    df1 = spark.createDataFrame(
        [(4, "U", "d1", "B"), (5, "D", "d2", None), (6, "U", "d3", "B")],
        "lsn long, op string, doc_id string, source string",
    )
    n_before = idx.postings.read().count()
    pipe.apply(df1, batch_id=1)
    assert {(r[0], r[1]) for r in idx.read_index().collect()} == {
        ("B", "d1"), ("B", "d3"),
    }
    # the unchanged winner appended NOTHING; the move appended close+open,
    # the delete appended one close
    assert idx.postings.read().count() == n_before + 3
    assert {r[0] for r in idx.lookup("B").collect()} == {"d1", "d3"}
    assert idx.lookup("A").count() == 0


def test_index_replay_and_identity(spark, tmp_path):
    pdf = generate_changelog_pandas(n_events=800, seed=23)
    pipe, idx = _apply_epochs(
        spark, pdf, str(tmp_path / "tbl"), str(tmp_path / "idx"), n_epochs=2
    )
    want = _expected_index(pdf)
    n = idx.postings.read().count()

    # replayed epoch no-ops (fresh state object, same root)
    idx2 = SecondaryIndexState(spark, str(tmp_path / "idx"))
    assert idx2.index_col == "source"
    from data_hub_ejp_xml_pipeline_spark.generator import spark_changelog_from_pandas

    df = spark_changelog_from_pandas(spark, pdf)
    res = idx2.apply(df, pipe.table, batch_id=0)
    assert res.applied is False
    assert idx2.postings.read().count() == n
    assert {(r[0], r[1]) for r in idx2.read_index().collect()} == want

    with pytest.raises(ValueError, match="indexes"):
        SecondaryIndexState(spark, str(tmp_path / "idx"), index_col="n_tok")
    with pytest.raises(ValueError, match="batch_id"):
        pipe.apply(df)


def test_index_compact_preserves_and_shrinks(spark, tmp_path):
    pdf = generate_changelog_pandas(n_events=1_500, seed=29)
    pipe, idx = _apply_epochs(
        spark, pdf, str(tmp_path / "tbl"), str(tmp_path / "idx")
    )
    want = _expected_index(pdf)
    n_before = idx.postings.read().count()
    idx.compact()
    assert {(r[0], r[1]) for r in idx.read_index().collect()} == want
    after = idx.postings.read()
    # folded form: live postings only, one per (value, key)
    assert after.count() == len(want) <= n_before
    assert after.filter("tombstone").count() == 0
    # a replayed pre-compact epoch still no-ops (ledger carried over)
    from data_hub_ejp_xml_pipeline_spark.generator import spark_changelog_from_pandas

    df = spark_changelog_from_pandas(spark, pdf)
    assert idx.apply(df, pipe.table, batch_id=0).applied is False
    assert {(r[0], r[1]) for r in idx.read_index().collect()} == want


def test_index_lookup_prunes_to_one_bucket(spark, tmp_path):
    """``lookup(value)`` returns the value's keys in the live index and
    reads only the posting files of the value's hash bucket whose key
    range holds it."""
    pdf = generate_changelog_pandas(n_events=1_500, seed=31)
    _, idx = _apply_epochs(
        spark, pdf, str(tmp_path / "tbl"), str(tmp_path / "idx")
    )
    m = idx.postings.manifest()
    assert len({f["bucket"] for f in m["files"]}) > 1  # the prune has something to skip
    index = {(r[0], r[1]) for r in idx.read_index().collect()}
    for value in sorted({str(v) for v in pdf["source"].dropna()})[:5]:
        want = {k for v, k in index if v == value}
        assert {r[0] for r in idx.lookup(value).collect()} == want, value
        (b,) = spark.range(1).select(
            F.pmod(F.hash(F.lit(value)), F.lit(m["n_buckets"]))
        ).first()
        pruned = [
            f for f in m["files"]
            if f["bucket"] == b and f["key_min"] <= value <= f["key_max"]
        ]
        assert idx.postings._lookup_entries([value], m) == pruned, value
        assert 0 < len(pruned) < len(m["files"])


def test_index_null_values_not_indexed(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "U", "d1", None), (2, "U", "d2", "A")],
        "lsn long, op string, doc_id string, source string",
    )
    idx = SecondaryIndexState(spark, str(tmp_path / "idx"), index_col="source")
    pipe = MergePipeline(
        spark, str(tmp_path / "tbl"), n_buckets=4, index_state=idx,
        payload_schema=df.drop("lsn", "op").schema,
    )
    pipe.apply(df, batch_id=0)
    assert {(r[0], r[1]) for r in idx.read_index().collect()} == {("A", "d2")}
    # d1 later gains a value; d2's value goes null (drops out of the index)
    pipe.apply(
        spark.createDataFrame(
            [(3, "U", "d1", "B"), (4, "U", "d2", None)],
            "lsn long, op string, doc_id string, source string",
        ),
        batch_id=1,
    )
    assert {(r[0], r[1]) for r in idx.read_index().collect()} == {("B", "d1")}
    with pytest.raises(ValueError, match="NULL"):
        idx.lookup(None)


def test_ivm_and_index_share_one_reduce(spark, tmp_path):
    """Both sidecars attached: one shared narrow reduce feeds both, and
    both states end correct (the per-state suites pin each alone)."""
    from pyspark.sql import functions as F

    from data_hub_ejp_xml_pipeline_spark.plans.ivm import IncrementalAggState

    pdf = generate_changelog_pandas(n_events=1_200, seed=37)
    from data_hub_ejp_xml_pipeline_spark.generator import spark_changelog_from_pandas

    df = spark_changelog_from_pandas(spark, pdf)
    ivm = IncrementalAggState(spark, str(tmp_path / "ivm"),
                              group_col="source", value_col="n_tok")
    idx = SecondaryIndexState(spark, str(tmp_path / "idx"), index_col="source")
    pipe = MergePipeline(spark, str(tmp_path / "tbl"), n_buckets=4,
                         ivm_state=ivm, index_state=idx)
    lo, hi = int(pdf["lsn"].min()), int(pdf["lsn"].max())
    mid = (lo + hi) // 2
    pipe.apply(df.filter(F.col("lsn") <= mid), batch_id=0)
    pipe.apply(df.filter(F.col("lsn") > mid), batch_id=1)

    assert {(r[0], r[1]) for r in idx.read_index().collect()} == _expected_index(pdf)
    want = {
        (r[0], r[1], float(r[2]))
        for r in pipe.final_state().groupBy("source")
        .agg(F.count("*").alias("cnt"), F.sum("n_tok").cast("double").alias("tot"))
        .collect()
    }
    got = {(r[0], r[1], float(r[2])) for r in ivm.read_totals().collect()}
    assert got == want
