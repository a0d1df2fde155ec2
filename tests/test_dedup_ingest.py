"""Dedup-on-ingest: persisted band state, exactly-once flags, crash
convergence, and the EntityPipeline hookup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_hub_ejp_xml_pipeline_spark.plans.dedup_ingest import DedupIngestState

BASE = "the quick brown fox jumps over the lazy dog by the river bank"
OTHER = "completely different text about cooking pasta at home this evening ok"
THIRD = "yet another unrelated sentence mentioning satellites orbiting saturn forever"


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_two_epochs_flag_via_persisted_state(spark, tmp_path):
    """Epoch 2's near-dups against epoch 1 are found through the PERSISTED
    band state — including after reopening the state from disk (a fresh
    process), which a function-level corpus recompute could not do."""
    root = str(tmp_path / "state")
    s1 = DedupIngestState(spark, root, n_buckets=4)
    f1 = s1.apply(_docs(spark, [("a", BASE), ("b", OTHER)]), batch_id=0)
    assert f1.count() == 0  # nothing similar within epoch 1

    # fresh open — only the durable tables carry the corpus forward
    s2 = DedupIngestState(spark, root, n_buckets=4)
    f2 = s2.apply(
        _docs(spark, [("c", BASE), ("d", THIRD), ("e", BASE)]), batch_id=1
    ).collect()
    got = {(r.new_doc, r.matched_doc): (r.matched_in, r.jaccard, r.epoch) for r in f2}
    assert got[("c", "a")] == ("corpus", 1.0, 1)  # via persisted epoch-1 state
    assert got[("e", "a")] == ("corpus", 1.0, 1)
    assert got[("e", "c")] == ("batch", 1.0, 1)   # earlier doc of same epoch
    assert not any(n == "d" for (n, _) in got)

    # the flags TABLE holds exactly what apply returned, tagged by epoch
    durable = {(r.new_doc, r.matched_doc, r.epoch) for r in s2.all_flags().collect()}
    assert durable == {("c", "a", 1), ("e", "a", 1), ("e", "c", 1)}
    assert {r.doc_id for r in s2.flagged_doc_ids().collect()} == {"c", "e"}


def test_replayed_epoch_is_noop_and_deterministic(spark, tmp_path):
    root = str(tmp_path / "replay")
    s = DedupIngestState(spark, root, n_buckets=4)
    s.apply(_docs(spark, [("a", BASE)]), batch_id=0)
    first = sorted(map(tuple, s.apply(
        _docs(spark, [("b", BASE)]), batch_id=1).collect()))
    n_bands = s.bands.read().count()
    n_flags = s.flags.read().count()

    replay = sorted(map(tuple, s.apply(
        _docs(spark, [("b", BASE)]), batch_id=1).collect()))
    assert replay == first                      # same flags recomputed
    assert s.bands.read().count() == n_bands    # no duplicate state rows
    assert s.flags.read().count() == n_flags    # no duplicate emission


def test_crash_between_state_append_and_flag_emit_converges(spark, tmp_path):
    """Crash window: bands appended, flags append never ran. The replay
    must (a) not re-append bands, (b) compute flags against the PRE-epoch
    corpus (else the batch would 'corpus'-match its own bands), and
    (c) emit exactly the flags a crash-free run would have."""
    root = str(tmp_path / "crash")
    clean_root = str(tmp_path / "clean")
    e1 = [("a", BASE), ("b", OTHER)]
    e2 = [("c", BASE), ("e", BASE)]

    clean = DedupIngestState(spark, clean_root, n_buckets=4)
    clean.apply(_docs(spark, e1), batch_id=0)
    clean.apply(_docs(spark, e2), batch_id=1)
    expected = sorted(map(tuple, clean.all_flags().collect()))

    s = DedupIngestState(spark, root, n_buckets=4)
    s.apply(_docs(spark, e1), batch_id=0)
    # crash: band append succeeds, flag append raises
    real_append = s.flags.append
    s.flags.append = lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError, match="crash"):
        s.apply(_docs(spark, e2), batch_id=1)
    assert "1" in s.bands.ledger()      # the crash window is real
    assert "1" not in s.flags.ledger()
    s.flags.append = real_append

    s2 = DedupIngestState(spark, root, n_buckets=4)  # restart
    s2.apply(_docs(spark, e2), batch_id=1)
    assert sorted(map(tuple, s2.all_flags().collect())) == expected
    assert s2.bands.read().count() == clean.bands.read().count()


def test_docs_provider_mode_keeps_text_stored_once(spark, tmp_path):
    """With docs_provider= the state keeps NO docs table; the verify
    re-shingles matched docs from the caller's corpus table."""
    corpus = _docs(spark, [("a", BASE), ("b", OTHER)])
    s = DedupIngestState(
        spark, str(tmp_path / "prov"), n_buckets=4, docs_provider=lambda: corpus
    )
    assert s.docs is None
    s.apply(corpus, batch_id=0)
    flags = s.apply(_docs(spark, [("c", BASE)]), batch_id=1).collect()
    assert {(r.new_doc, r.matched_doc) for r in flags} == {("c", "a")}


def test_entity_pipeline_dedup_on_ingest(spark, tmp_path):
    """The EntityPipeline hookup: two streamed epochs, epoch 2's payload
    near-dup of an epoch-1 doc is flagged via the persisted state; deleted
    docs never enter the corpus."""
    from data_hub_ejp_xml_pipeline_spark.config import PipelineConfig
    from data_hub_ejp_xml_pipeline_spark.plans.entity_pipeline import EntityPipeline

    cfg = PipelineConfig.from_dict(
        {"zipPath": str(tmp_path / "zips"),
         "warehouseRoot": str(tmp_path / "wh")},
        deployment_env="test",
    )
    state = DedupIngestState(spark, str(tmp_path / "dstate"), n_buckets=4)
    pipe = EntityPipeline(spark, cfg, n_buckets=4, dedup_state=state)

    payload = '{"name": "' + BASE + '"}'
    rows1 = [
        (1, "U", "p1", payload, "2024-01-01T00:00:00Z", "person", "f1.zip", 0),
        (2, "U", "p2", '{"name": "' + OTHER + '"}', "2024-01-01T00:00:00Z",
         "person", "f1.zip", 1),
        (3, "D", "p3", payload, "2024-01-01T00:00:00Z", "person", "f1.zip", 2),
    ]
    rows2 = [
        (4, "U", "m1", payload, "2024-01-02T00:00:00Z", "manuscript", "f2.zip", 0),
    ]
    schema = ("lsn long, op string, doc_id string, payload string, "
              "modified_timestamp string, source string, source_file string, "
              "offset long")
    pipe.apply(spark.createDataFrame(rows1, schema), batch_id=0)
    pipe.apply(spark.createDataFrame(rows2, schema), batch_id=1)

    flags = {(r.new_doc, r.matched_doc, r.epoch)
             for r in state.all_flags().collect()}
    assert flags == {("m1", "p1", 1)}  # cross-epoch near-dup, p3 (deleted) absent
    corpus_ids = {r.doc_id for r in state.docs.read().collect()}
    assert "p3" not in corpus_ids

    with pytest.raises(ValueError, match="batch_id"):
        pipe.apply(spark.createDataFrame(rows2, schema))


def test_streaming_entity_pipeline_feeds_dedup_state(spark, tmp_path):
    """The streaming path: EntityPipeline.attach runs dedup-on-ingest from
    foreachBatch with the STREAM's epoch ids; a second drain over the same
    files (fresh checkpoint) must not duplicate state or flags (the ledger
    no-ops the replayed epochs)."""
    import json

    from data_hub_ejp_xml_pipeline_spark.config import PipelineConfig
    from data_hub_ejp_xml_pipeline_spark.plans.entity_pipeline import EntityPipeline

    src = tmp_path / "stream-src"
    src.mkdir()
    rows = [
        {"lsn": 1, "op": "U", "doc_id": "p1",
         "payload": json.dumps({"name": BASE}),
         "modified_timestamp": "2024-01-01T00:00:00Z", "source": "person",
         "source_file": "f1", "offset": 0},
        {"lsn": 2, "op": "U", "doc_id": "m1",
         "payload": json.dumps({"name": BASE}),
         "modified_timestamp": "2024-01-01T00:00:01Z", "source": "manuscript",
         "source_file": "f1", "offset": 1},
    ]
    with open(src / "b0.json", "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in rows))

    schema = ("lsn long, op string, doc_id string, payload string, "
              "modified_timestamp string, source string, source_file string, "
              "offset long")
    cfg = PipelineConfig.from_dict(
        {"zipPath": str(src), "warehouseRoot": str(tmp_path / "wh")},
        deployment_env="test",
    )
    state = DedupIngestState(spark, str(tmp_path / "dstate"), n_buckets=4)
    pipe = EntityPipeline(spark, cfg, n_buckets=4, dedup_state=state)

    stream = spark.readStream.schema(schema).json(str(src))
    pipe.attach(stream, str(tmp_path / "ckpt"), available_now=True).awaitTermination()

    flags = {(r.new_doc, r.matched_doc) for r in state.all_flags().collect()}
    assert flags == {("p1", "m1")} or flags == {("m1", "p1")}
    n_bands = state.bands.read().count()
    n_flags = state.flags.read().count()

    # replay with a FRESH checkpoint: same epoch ids re-delivered
    pipe2 = EntityPipeline(spark, cfg, n_buckets=4, dedup_state=state)
    stream2 = spark.readStream.schema(schema).json(str(src))
    pipe2.attach(stream2, str(tmp_path / "ckpt2"), available_now=True).awaitTermination()
    assert state.bands.read().count() == n_bands
    assert state.flags.read().count() == n_flags


def test_token_dedup_state_exact_and_replay(spark, tmp_path):
    """Exact token-fingerprint dedup across epochs: full-array and
    prefix fingerprints, replay no-op, crash convergence."""
    from data_hub_ejp_xml_pipeline_spark.plans.dedup_ingest import TokenDedupState

    root = str(tmp_path / "tok")
    s = TokenDedupState(spark, root, n_buckets=4)
    e1 = spark.createDataFrame(
        [("a", [1, 2, 3]), ("b", [9, 9])], "doc_id string, tokens array<int>"
    )
    e2 = spark.createDataFrame(
        [("c", [1, 2, 3]), ("d", [7]), ("e", [1, 2, 3])],
        "doc_id string, tokens array<int>",
    )
    assert s.apply(e1, batch_id=0).count() == 0
    flags = {(r.new_doc, r.matched_doc): (r.matched_in, r.epoch)
             for r in s.apply(e2, batch_id=1).collect()}
    assert flags[("c", "a")] == ("corpus", 1)
    assert flags[("e", "a")] == ("corpus", 1)
    assert flags[("e", "c")] == ("batch", 1)
    assert not any(n == "d" for (n, _) in flags)

    # replay: same flags, no state growth
    n_fp, n_fl = s.fingerprints.read().count(), s.flags.read().count()
    replay = {(r.new_doc, r.matched_doc) for r in s.apply(e2, batch_id=1).collect()}
    assert replay == set(flags)
    assert s.fingerprints.read().count() == n_fp
    assert s.flags.read().count() == n_fl


def test_token_dedup_prefix_k(spark, tmp_path):
    from data_hub_ejp_xml_pipeline_spark.plans.dedup_ingest import TokenDedupState

    s = TokenDedupState(spark, str(tmp_path / "pfx"), prefix_k=2, n_buckets=4)
    e1 = spark.createDataFrame([("a", [1, 2, 99])], "doc_id string, tokens array<int>")
    e2 = spark.createDataFrame(
        [("b", [1, 2, 55]), ("c", [3, 2, 55])], "doc_id string, tokens array<int>"
    )
    s.apply(e1, batch_id=0)
    flags = {(r.new_doc, r.matched_doc) for r in s.apply(e2, batch_id=1).collect()}
    assert flags == {("b", "a")}  # same 2-token prefix; c differs


def test_mor_pipeline_token_dedup_on_ingest(spark, tmp_path):
    """MorPipeline(dedup_state=): epoch 2's exact token dup of an epoch-1
    doc is flagged via the persisted fingerprint state; deletes excluded."""
    from data_hub_ejp_xml_pipeline_spark.plans.dedup_ingest import TokenDedupState
    from data_hub_ejp_xml_pipeline_spark.plans.mor_pipeline import MorPipeline

    state = TokenDedupState(spark, str(tmp_path / "tokstate"), n_buckets=4)
    mor = MorPipeline(spark, str(tmp_path / "mor"), n_buckets=4, k_compact=10,
                      dedup_state=state)
    schema = ("lsn long, op string, doc_id string, tokens array<int>, "
              "n_tok int, source string")
    e1 = spark.createDataFrame(
        [(1, "U", "x", [5, 6, 7], 3, "s"), (2, "D", "gone", [1, 1], 2, "s")],
        schema,
    )
    e2 = spark.createDataFrame([(3, "U", "y", [5, 6, 7], 3, "s")], schema)
    mor.apply(e1, batch_id=0)
    mor.apply(e2, batch_id=1)
    flags = {(r.new_doc, r.matched_doc, r.matched_in, r.epoch)
             for r in state.all_flags().collect()}
    assert flags == {("y", "x", "corpus", 1)}
    # the deleted key's fingerprint never entered the corpus
    assert {r.doc_id for r in state.fingerprints.read().collect()} == {"x", "y"}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_incremental_flags_union_equals_one_shot_pairs(spark, data):
    """THE semantic contract of dedup-on-ingest: for ANY partition of a
    corpus into arrival epochs, the union of per-epoch flags equals the
    pair set of a one-shot minhash_lsh_pairs over the whole corpus —
    incremental arrival changes WHEN a pair is found, never WHETHER.
    (Same bands, same shingles, same verify on both paths.)"""
    import shutil
    import tempfile

    from data_hub_ejp_xml_pipeline_spark.operators import dedup

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "iota", "kappa"]
    n_docs = data.draw(st.integers(4, 8))
    docs = []
    for i in range(n_docs):
        if i >= 2 and data.draw(st.booleans()):
            # near/exact dup of an earlier doc (one optional word swap)
            src_i = data.draw(st.integers(0, i - 1))
            toks = docs[src_i][1].split(" ")
            if data.draw(st.booleans()):
                toks[data.draw(st.integers(0, len(toks) - 1))] = data.draw(
                    st.sampled_from(words)
                )
            docs.append((f"d{i}", " ".join(toks)))
        else:
            docs.append(
                (f"d{i}", " ".join(data.draw(st.sampled_from(words))
                                   for _ in range(8)))
            )
    n_epochs = data.draw(st.integers(1, 3))
    assignment = [data.draw(st.integers(0, n_epochs - 1)) for _ in docs]

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    root = tempfile.mkdtemp(prefix="dedup-prop-")
    try:
        s = DedupIngestState(spark, root + "/st", n_buckets=4, threshold=0.6)
        incremental = set()
        for e in range(n_epochs):
            ids = [d for (d, _), a in zip(docs, assignment) if a == e]
            if not ids:
                continue
            flags = s.apply(df.filter(F.col("doc_id").isin(ids)), batch_id=e)
            incremental |= {
                frozenset((r.new_doc, r.matched_doc)) for r in flags.collect()
            }
        one_shot = {
            frozenset((r.doc_a, r.doc_b))
            for r in dedup.minhash_lsh_pairs(df, threshold=0.6).collect()
        }
        assert incremental == one_shot
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_token_dedup_prefix_k_is_state_identity(spark, tmp_path):
    """prefix_k persists at the root: reopening adopts it, an explicit
    conflicting value is refused (mixed-K fingerprints never match, so a
    silent K change would collapse recall), and degenerate K is refused
    up front."""
    from data_hub_ejp_xml_pipeline_spark.plans.dedup_ingest import TokenDedupState

    root = str(tmp_path / "ident")
    TokenDedupState(spark, root, prefix_k=8, n_buckets=4)
    assert TokenDedupState(spark, root, n_buckets=4).prefix_k == 8  # adopt
    assert TokenDedupState(spark, root, prefix_k=8, n_buckets=4).prefix_k == 8
    with pytest.raises(ValueError, match="incompatible fingerprints"):
        TokenDedupState(spark, root, prefix_k=4, n_buckets=4)
    with pytest.raises(ValueError, match="incompatible fingerprints"):
        TokenDedupState(spark, root, prefix_k=None, n_buckets=4)
    with pytest.raises(ValueError, match=">= 1"):
        TokenDedupState(spark, str(tmp_path / "bad"), prefix_k=0, n_buckets=4)


def test_token_dedup_empty_tokens_never_flag(spark, tmp_path):
    """Null/empty token arrays carry no dedup signal: they must not pool
    onto md5('') and flag each other (quadratic hot-key flags), and they
    never enter the corpus state."""
    from data_hub_ejp_xml_pipeline_spark.plans.dedup_ingest import TokenDedupState

    s = TokenDedupState(spark, str(tmp_path / "empty"), n_buckets=4)
    e1 = spark.createDataFrame(
        [("a", []), ("b", None), ("c", [1, 2])],
        "doc_id string, tokens array<int>",
    )
    e2 = spark.createDataFrame(
        [("d", []), ("e", None), ("f", [1, 2])],
        "doc_id string, tokens array<int>",
    )
    assert s.apply(e1, batch_id=0).count() == 0
    flags = {(r.new_doc, r.matched_doc) for r in s.apply(e2, batch_id=1).collect()}
    assert flags == {("f", "c")}  # only the real content pair
    assert {r.doc_id for r in s.fingerprints.read().collect()} == {"c", "f"}


def test_token_dedup_equal_lsn_delete_update_sibling(spark, tmp_path):
    """apply_changelog's tie-break uses the SAME lineage columns as the
    main reduce, so an equal-(doc_id, lsn) update/delete sibling pair
    resolves identically: the lineage-later row wins on BOTH paths."""
    from data_hub_ejp_xml_pipeline_spark.plans.dedup_ingest import TokenDedupState

    schema = ("lsn long, op string, doc_id string, tokens array<int>, "
              "offset long, source_file string")
    # update has the HIGHER offset → it wins the lineage tie-break
    batch = spark.createDataFrame(
        [(5, "D", "k", None, 1, "f"), (5, "U", "k", [9, 9, 9], 2, "f")], schema
    )
    s = TokenDedupState(spark, str(tmp_path / "tie"), n_buckets=4)
    s.apply_changelog(batch, batch_id=0)
    assert {r.doc_id for r in s.fingerprints.read().collect()} == {"k"}

    # reversed lineage: the delete wins → the key stays out of the corpus
    batch2 = spark.createDataFrame(
        [(5, "D", "k2", None, 2, "f"), (5, "U", "k2", [9, 9, 9], 1, "f")], schema
    )
    s.apply_changelog(batch2, batch_id=1)
    assert not any(r.doc_id == "k2" for r in s.fingerprints.read().collect())


def test_token_dedup_compact_latest_and_expire(spark, tmp_path):
    """compact_latest switches the state to current-content-only: a doc's
    superseded fingerprint stops attracting flags; expire reclaims old
    snapshots on all state tables."""
    from data_hub_ejp_xml_pipeline_spark.plans.dedup_ingest import TokenDedupState

    s = TokenDedupState(spark, str(tmp_path / "cmp"), n_buckets=4)
    s.apply_changelog(spark.createDataFrame(
        [(1, "U", "a", [1, 2, 3])],
        "lsn long, op string, doc_id string, tokens array<int>"), batch_id=0)
    # a's content changes in epoch 1
    s.apply_changelog(spark.createDataFrame(
        [(2, "U", "a", [7, 8, 9])],
        "lsn long, op string, doc_id string, tokens array<int>"), batch_id=1)
    # append-only default: a match against a's OLD content flags
    f_old = s.apply_changelog(spark.createDataFrame(
        [(3, "U", "b", [1, 2, 3])],
        "lsn long, op string, doc_id string, tokens array<int>"), batch_id=2)
    assert {(r.new_doc, r.matched_doc) for r in f_old.collect()} == {("b", "a")}

    s.compact_latest(batch_id=100)
    assert s.fingerprints.read().count() == 2  # one per doc (a latest, b)
    # after compaction, old content no longer matches; current does
    f2 = s.apply_changelog(spark.createDataFrame(
        [(4, "U", "c", [1, 2, 3]), (5, "U", "d", [7, 8, 9])],
        "lsn long, op string, doc_id string, tokens array<int>"), batch_id=3)
    got = {(r.new_doc, r.matched_doc, r.matched_in) for r in f2.collect()}
    assert ("d", "a", "corpus") in got
    assert not any(n == "c" and m == "a" for (n, m, _) in got)
    # 'c' matches 'b' (b kept [1,2,3]); compaction preserved b's row
    assert ("c", "b", "corpus") in got

    ex = s.expire(keep_last=1)
    assert ex["fingerprints"]["removed_manifests"] >= 1  # pre-compaction history swept


def test_minhash_state_expire(spark, tmp_path):
    s = DedupIngestState(spark, str(tmp_path / "exp"), n_buckets=4)
    for e, d in enumerate([[("a", BASE)], [("b", OTHER)], [("c", BASE)]]):
        s.apply(_docs(spark, d), batch_id=e)
    before = s.all_flags().count()
    ex = s.expire(keep_last=1)
    assert set(ex) == {"bands", "flags", "docs"}
    assert s.all_flags().count() == before  # current state untouched


def test_pipelines_fingerprint_on_their_own_key(spark, tmp_path):
    """Both pipelines hand TokenDedupState their key: on a table keyed by
    ``k`` (no ``doc_id`` column anywhere) the state dedups on ``k``."""
    from pyspark.sql import types as T

    from data_hub_ejp_xml_pipeline_spark.plans.dedup_ingest import TokenDedupState
    from data_hub_ejp_xml_pipeline_spark.plans.mor_pipeline import MorPipeline
    from data_hub_ejp_xml_pipeline_spark.plans.pipeline import MergePipeline

    payload = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
    ])
    batch = spark.createDataFrame(
        [(1, "I", "a", [1, 2, 3]), (2, "I", "b", [1, 2, 3]), (3, "I", "c", [4])],
        "lsn long, op string, k string, tokens array<int>",
    )
    for kind, cls in (("cow", MergePipeline), ("mor", MorPipeline)):
        state = TokenDedupState(spark, str(tmp_path / f"dd-{kind}"), n_buckets=2)
        pipe = cls(spark, str(tmp_path / kind), key="k", n_buckets=2,
                   payload_schema=payload, dedup_state=state)
        pipe.apply(batch, batch_id=0)
        flags = {(r.new_doc, r.matched_doc) for r in state.all_flags().collect()}
        assert flags == {("b", "a")}, kind
        assert {r.k for r in pipe.final_state().collect()} == {"a", "b", "c"}, kind
