"""Changelog validation + dead-letter queue: invalid events are
quarantined with a reason (exactly-once), never merged and never
silently dropped — the engine's changelog-layer analog of the
reference's XML parse-error quarantine (``transform_zip.py`` routes
failures to an errors output; the e2e tier asserts the artifacts)."""

from __future__ import annotations

import logging

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_hub_ejp_xml_pipeline_spark.generator import (
    generate_changelog_pandas,
    spark_changelog_from_pandas,
)
from data_hub_ejp_xml_pipeline_spark.operators.validate import (
    REASON_COL,
    reject_reason,
    split_changelog,
)
from data_hub_ejp_xml_pipeline_spark.oracle import expected_final_state_pandas
from data_hub_ejp_xml_pipeline_spark.plans.dlq import DlqState, attach_dlq
from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline
from data_hub_ejp_xml_pipeline_spark.schemas import CHANGELOG_SCHEMA


def _dirty_pdf(n_events=2_000, seed=11) -> pd.DataFrame:
    """Deterministically corrupt a slice of a clean changelog: every
    corruption class present, the clean remainder untouched."""
    pdf = generate_changelog_pandas(n_events=n_events, seed=seed)
    pdf = pdf.reset_index(drop=True)
    mod = pdf.index % 23
    pdf["doc_id"] = pdf["doc_id"].astype(object)
    pdf.loc[mod == 0, "doc_id"] = None
    pdf.loc[mod == 1, "doc_id"] = ""
    pdf["lsn"] = pdf["lsn"].astype(object)
    pdf.loc[mod == 2, "lsn"] = None
    pdf.loc[mod == 3, "op"] = "X"
    arity = (mod == 4) & (pdf["op"] != "D") & pdf["n_tok"].notna()
    pdf.loc[arity, "n_tok"] = pdf.loc[arity, "n_tok"] + 1
    return pdf


def _dirty_df(spark, pdf):
    # build through Rows so the object-dtype lsn column (holding Nones)
    # lands as a nullable long
    rows = pdf.to_dict("records")
    for r in rows:
        r["lsn"] = int(r["lsn"]) if pd.notna(r["lsn"]) else None
        r["n_tok"] = int(r["n_tok"]) if pd.notna(r["n_tok"]) else None
        r["tokens"] = list(r["tokens"]) if r["tokens"] is not None else None
        r["event_ts"] = (
            r["event_ts"].to_pydatetime() if pd.notna(r["event_ts"]) else None
        )
    from pyspark.sql import types as T

    relaxed = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in CHANGELOG_SCHEMA.fields]
    )
    return spark.createDataFrame(rows, schema=relaxed)


def _expected_reasons(pdf: pd.DataFrame) -> pd.Series:
    """Pandas mirror of operators.validate.reject_reason (first match)."""
    out = pd.Series([None] * len(pdf), index=pdf.index, dtype=object)
    null_key = pdf["doc_id"].isna() | (pdf["doc_id"] == "")
    null_lsn = pdf["lsn"].isna()
    bad_op = ~pdf["op"].isin(["I", "U", "D"]) | pdf["op"].isna()
    arity = (
        (pdf["op"] != "D")
        & pdf["n_tok"].notna()
        & pdf["tokens"].notna()
        & (pdf["n_tok"] != pdf["tokens"].map(
            lambda t: len(t) if t is not None else None))
    )
    out[arity.fillna(False)] = "token_arity"
    out[bad_op] = "bad_op"
    out[null_lsn] = "null_lsn"
    out[null_key] = "null_key"
    return out


def test_split_reasons_first_match(spark):
    pdf = _dirty_pdf()
    df = _dirty_df(spark, pdf)
    got = df.withColumn(REASON_COL, reject_reason(df)).select(
        "lsn", "doc_id", "op", REASON_COL
    ).toPandas()
    want = _expected_reasons(pdf)
    assert list(got[REASON_COL].where(got[REASON_COL].notna(), None)) == list(
        want.where(want.notna(), None)
    )
    # every corruption class occurred
    assert set(want.dropna()) == {"null_key", "null_lsn", "bad_op", "token_arity"}


def test_split_valid_side_unchanged_schema(spark, changelog_df):
    valid, rejects = split_changelog(changelog_df)
    assert valid.columns == changelog_df.columns  # no added columns
    assert rejects.columns == changelog_df.columns + [REASON_COL]
    # a clean changelog rejects nothing and keeps every row
    assert rejects.count() == 0
    assert valid.count() == changelog_df.count()


def test_pipeline_quarantines_and_merges_clean(spark, tmp_path):
    pdf = _dirty_pdf()
    df = _dirty_df(spark, pdf).cache()
    dlq = DlqState(spark, str(tmp_path / "dlq"), payload_schema=CHANGELOG_SCHEMA)
    pipe = MergePipeline(spark, str(tmp_path / "tbl"), n_buckets=4, dlq_state=dlq)

    mid = int(pdf["lsn"].dropna().median())
    b0 = df.filter(F.col("lsn").isNull() | (F.col("lsn") <= mid))
    b1 = df.filter(F.col("lsn") > mid)
    pipe.apply(b0, batch_id=0)
    assert dlq.last_reject_count > 0
    pipe.apply(b1, batch_id=1)

    # final state == LWW over the VALID subset only
    reasons = _expected_reasons(pdf)
    clean = pdf[reasons.isna()].copy()
    clean["lsn"] = clean["lsn"].astype("int64")
    want = expected_final_state_pandas(clean)
    got = (
        pipe.final_state()
        .select("doc_id", "n_tok", "source", "_lsn")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["_lsn"]) == list(want["_lsn"])

    # quarantine holds exactly the rejects, each with its reason + epoch
    qr = dlq.read().toPandas()
    wantq = reasons.dropna()
    assert len(qr) == len(wantq)
    assert (
        qr[REASON_COL].value_counts().to_dict()
        == wantq.value_counts().to_dict()
    )
    assert set(qr["epoch"]) == {0, 1}
    df.unpersist()


def test_dlq_replay_is_exactly_once(spark, tmp_path):
    pdf = _dirty_pdf(n_events=800, seed=5)
    df = _dirty_df(spark, pdf)
    dlq = DlqState(spark, str(tmp_path / "dlq"), payload_schema=CHANGELOG_SCHEMA)
    pipe = MergePipeline(spark, str(tmp_path / "tbl"), n_buckets=4, dlq_state=dlq)
    pipe.apply(df, batch_id=0)
    n = dlq.read().count()
    assert n > 0
    # replayed epoch: ledger no-ops the append, counter reports 0 new
    pipe.apply(df, batch_id=0)
    assert dlq.read().count() == n
    assert dlq.last_reject_count == 0

    # a REOPENED state (fresh process) replays idempotently too
    dlq2 = DlqState(spark, str(tmp_path / "dlq"))
    pipe2 = MergePipeline(spark, str(tmp_path / "tbl"), dlq_state=dlq2)
    pipe2.apply(df, batch_id=0)
    assert dlq2.read().count() == n


def test_dlq_requires_batch_id(spark, tmp_path, changelog_df):
    dlq = DlqState(spark, str(tmp_path / "dlq"), payload_schema=CHANGELOG_SCHEMA)
    pipe = MergePipeline(spark, str(tmp_path / "tbl"), dlq_state=dlq)
    with pytest.raises(ValueError, match="batch_id"):
        pipe.apply(changelog_df)


def test_state_replay_below_watermark_warns_like_its_table(spark, tmp_path, caplog):
    """A state's applied-epoch check IS its table's: a batch_id under the
    ledger eviction watermark no-ops with the table's data-loss warning
    (a reset checkpoint must not be swallowed silently)."""
    dlq = DlqState(spark, str(tmp_path / "dlq"), payload_schema=CHANGELOG_SCHEMA)
    dlq.table.ledger_window = 1
    _, rejects = split_changelog(_dirty_df(spark, _dirty_pdf(n_events=200)))
    for bid in range(3):
        assert dlq.apply(rejects, batch_id=bid).applied
    assert dlq.table.manifest()["ledger_evicted_below"] == 1
    n = dlq.read().count()
    with caplog.at_level(logging.WARNING):
        res = dlq.apply(rejects, batch_id=0)
    assert not res.applied
    assert "below the ledger eviction watermark" in caplog.text
    assert dlq.read().count() == n


def test_dlq_schema_identity(spark, tmp_path):
    from pyspark.sql import types as T

    root = str(tmp_path / "dlq")
    DlqState(spark, root, payload_schema=CHANGELOG_SCHEMA)
    other = T.StructType([T.StructField("x", T.StringType(), True)])
    with pytest.raises(ValueError, match="different"):
        DlqState(spark, root, payload_schema=other)
    adopted = attach_dlq(spark, root, other)  # reopen adopts, ignores hint
    assert adopted.payload_cols == [f.name for f in CHANGELOG_SCHEMA.fields]


def test_mor_pipeline_dlq(spark, tmp_path):
    from data_hub_ejp_xml_pipeline_spark.plans.mor_pipeline import MorPipeline

    pdf = _dirty_pdf(n_events=800, seed=9)
    df = _dirty_df(spark, pdf)
    dlq = DlqState(spark, str(tmp_path / "dlq"), payload_schema=CHANGELOG_SCHEMA)
    pipe = MorPipeline(spark, str(tmp_path / "mor"), n_buckets=4, k_compact=2,
                       dlq_state=dlq)
    pipe.apply(df, batch_id=0)
    pipe.compact()
    reasons = _expected_reasons(pdf)
    clean = pdf[reasons.isna()].copy()
    clean["lsn"] = clean["lsn"].astype("int64")
    want = expected_final_state_pandas(clean)
    assert pipe.final_state().count() == len(want)
    assert dlq.read().count() == int(reasons.notna().sum())


def test_tailer_metrics_carry_reject_counts(spark, tmp_path):
    from data_hub_ejp_xml_pipeline_spark.generator import write_changelog_files
    from data_hub_ejp_xml_pipeline_spark.streaming.tailer import ChangelogTailer

    pdf = _dirty_pdf(n_events=900, seed=13)
    d = str(tmp_path / "clog")
    write_changelog_files(pdf, d, 3)
    dlq = DlqState(spark, str(tmp_path / "dlq"), payload_schema=CHANGELOG_SCHEMA)
    pipe = MergePipeline(spark, str(tmp_path / "tbl"), n_buckets=4, dlq_state=dlq)
    tailer = ChangelogTailer(spark, pipeline=pipe)
    metrics = tailer.run_to_completion(d, str(tmp_path / "ck"),
                                       max_files_per_trigger=1)
    assert metrics and all("events_rejected" in m for m in metrics)
    want = int(_expected_reasons(pdf).notna().sum())
    assert sum(m["events_rejected"] for m in metrics) == want


def test_split_is_a_partition_property(spark):
    """Property: for ANY changelog frame, (valid, rejects) is a PARTITION
    of the input — disjoint, exhaustive, rows unmodified — and the reason
    is the FIRST failing rule. Hypothesis drives the row shapes through
    one Spark round-trip (one frame, many generated rows, for speed)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    docs = st.one_of(st.none(), st.just(""), st.text(
        alphabet="abc-", min_size=1, max_size=8))
    lsns = st.one_of(st.none(), st.integers(min_value=0, max_value=2**40))
    ops = st.sampled_from(["I", "U", "D", "X", "d", ""]) | st.none()
    toks = st.one_of(st.none(), st.lists(
        st.integers(min_value=0, max_value=100), max_size=5))
    row = st.tuples(lsns, ops, docs, toks)

    @given(rows=st.lists(row, min_size=1, max_size=40))
    @settings(max_examples=20, deadline=None)
    def check(rows):
        data = [
            (lsn, op, doc, tok, len(tok) if tok is not None else None)
            for lsn, op, doc, tok in rows
        ]
        # make a deterministic minority inconsistent
        data = [
            (lsn, op, doc, tok,
             (n + 1) if (n is not None and i % 5 == 0) else n)
            for i, (lsn, op, doc, tok, n) in enumerate(data)
        ]
        df = spark.createDataFrame(
            data,
            "lsn long, op string, doc_id string, tokens array<int>, n_tok int",
        )
        valid, rejects = split_changelog(df)
        nv, nr, n = valid.count(), rejects.count(), df.count()
        assert nv + nr == n
        # disjoint + unmodified: valid rows re-fail nothing, reject rows
        # all carry a reason from the fixed vocabulary
        assert valid.withColumn("r", reject_reason(valid)).filter(
            "r IS NOT NULL").count() == 0
        reasons = {r[0] for r in rejects.select(REASON_COL).distinct().collect()}
        assert reasons <= {"null_key", "null_lsn", "bad_op", "token_arity"}

    check()


def test_dlq_replay_into_fix_loop(spark, tmp_path):
    """The fix-and-resubmit loop (round 6): quarantine a dirty stream,
    patch ONE corruption class (bad_op — the connector bug got fixed),
    replay the queue through the pipeline; fixed rows land in the table
    under the LWW guard, still-broken rows are re-quarantined under the
    replay epoch and survive retirement, and the whole loop is
    exactly-once under a crash-style repeat of the same batch_id."""
    pdf = _dirty_pdf(n_events=1_200, seed=7)
    df = _dirty_df(spark, pdf)
    dlq = DlqState(spark, str(tmp_path / "dlq"), payload_schema=CHANGELOG_SCHEMA)
    pipe = MergePipeline(spark, str(tmp_path / "tbl"), n_buckets=4, dlq_state=dlq)
    pipe.apply(df, batch_id=0)

    reasons = _expected_reasons(pdf)
    n_rejects = int(reasons.notna().sum())
    n_fixable = int((reasons == "bad_op").sum())
    assert dlq.read().count() == n_rejects and n_fixable > 0

    def fix(rejects):
        return (
            rejects.withColumn(
                "op",
                F.when(F.col(REASON_COL) == "bad_op", F.lit("U"))
                .otherwise(F.col("op")),
            )
            .drop(REASON_COL, "epoch")
        )

    dlq.replay_into(pipe, batch_id=1, transform=fix)

    # still-broken rows re-quarantined under the replay epoch, retired
    # originals gone from the live queue
    live = dlq.read().toPandas()
    assert len(live) == n_rejects - n_fixable
    assert set(live["epoch"]) == {1}
    assert "bad_op" not in set(live[REASON_COL])

    # table state == LWW over clean rows PLUS the fixed (op->U) rows
    clean = pdf[reasons.isna()]
    fixed = pdf[reasons == "bad_op"].copy()
    fixed["op"] = "U"
    want_src = pd.concat([clean, fixed], ignore_index=True)
    want_src["lsn"] = want_src["lsn"].astype("int64")
    want = expected_final_state_pandas(want_src)
    got = (
        pipe.final_state()
        .select("doc_id", "_lsn")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["_lsn"]) == list(want["_lsn"])

    # crash-style repeat of the SAME replay batch: everything no-ops
    dlq.replay_into(pipe, batch_id=1, transform=fix)
    live2 = dlq.read().toPandas()
    assert len(live2) == len(live) and set(live2["epoch"]) == {1}
    got2 = pipe.final_state().select("doc_id", "_lsn").toPandas()
    assert len(got2) == len(got)

    # a second fixless round just rolls the queue forward one epoch —
    # nothing lost, nothing duplicated
    dlq.replay_into(pipe, batch_id=2)
    live3 = dlq.read().toPandas()
    assert len(live3) == len(live)
    assert set(live3["epoch"]) == {2}
