"""LWW reduction == pandas oracle (token-array equality), two-phase plan."""

from __future__ import annotations

import pytest

from data_hub_ejp_xml_pipeline_spark.operators.lww import reduce_latest
from data_hub_ejp_xml_pipeline_spark.oracle import (
    assert_final_state_equal,
    expected_final_state_pandas,
)


def test_reduce_latest_matches_oracle(spark, changelog_df, changelog_pdf):
    """The fixture puts ~30% of events on a few hot keys, so this also
    pins the skewed case against the oracle."""
    reduced = reduce_latest(changelog_df)
    # final state: drop deletes, project target columns
    actual = (
        reduced.filter("op != 'D'")
        .selectExpr("doc_id", "tokens", "n_tok", "source", "lsn as _lsn")
        .toPandas()
    )
    expected = expected_final_state_pandas(changelog_pdf)
    assert_final_state_equal(actual, expected)


def test_reduce_is_idempotent(spark, changelog_df):
    once = reduce_latest(changelog_df)
    twice = reduce_latest(once)
    assert once.count() == twice.count()
    h = lambda df: df.selectExpr("sum(pmod(xxhash64(doc_id, lsn, op), 1000000007)) h").first().h  # noqa: E731
    assert h(once) == h(twice)


def test_agg_plan_has_partial_aggregation(spark, changelog_df):
    """The reduce must plan as a two-phase aggregate (map-side partial
    combine) — the property that makes replays/hot keys cheap."""
    plan = reduce_latest(changelog_df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2 or plan.count("SortAggregate") >= 2, plan


def test_quadratic_neardup_guard(spark, monkeypatch):
    """q_embedding_neardup refuses the O(n^2) cross-join above its vector
    budget, pointing at the LSH path."""
    import data_hub_ejp_xml_pipeline_spark.queries as q

    monkeypatch.setattr(q, "_NEARDUP_MAX_VECS", 10)
    with pytest.raises(ValueError, match="ann_lsh"):
        q.q_embedding_neardup(spark, "/root/testdata/sf0.001")
