"""Deduplication operators for large-scale training-data pipelines.

All JVM-side DataFrame compositions (no Python in the hot path); hashes
are md5-hex based so an independent SQL engine (the DuckDB oracle)
reproduces results bit-for-bit.

Scale notes (100 TB):
* exact dedup — hash-groupBy: one shuffle on the fingerprint.
* n-gram Jaccard — exact but quadratic in co-shingled docs: the shingle
  self-join explodes on common shingles. Use for verification / small
  corpora; the LSH path is the production one.
* MinHash+LSH — shingle → K minhashes (lexicographic min of md5, portable)
  → bands → bucket-join. Only documents sharing a band bucket ever meet in
  the shuffle; candidates are then verified with exact Jaccard. Band/row
  tuning: P(candidate) = 1-(1-s^r)^b for similarity s.
* SimHash — 16-bit sign-sum signature; near-dup = hamming ≤ d. Candidate
  generation via nibble-banding (pigeonhole: hamming ≤ 3 over 4 nibbles
  guarantees one equal nibble), verified with bit_count(xor).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def shingles(words_col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles as an array (empty when fewer than k).

    One ``slice`` per shingle instead of k ``element_at`` lookups: the
    lambda body of ``transform`` is interpreted (not codegen'd), so
    per-element expression count dominates — measured ~2x at sf0.1."""
    n = F.size(words_col)
    idx = F.sequence(F.lit(1), n - (k - 1))
    mk = lambda i: F.concat_ws(" ", F.slice(words_col, i, k))  # noqa: E731
    return F.when(n >= k, F.array_distinct(F.transform(idx, mk))).otherwise(
        F.array().cast("array<string>")
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash; keeper = min id."""
    return df.groupBy(F.md5(text_col).alias("fingerprint")).agg(
        F.min(id_col).alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


def shingle_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  k: int = 3) -> DataFrame:
    """(id, shingle) long table — input to both Jaccard and MinHash.

    The input is re-partitioned across the cluster before the explode: a
    document table often arrives as few large files, and the shingle/md5
    expansion is the expensive part — fan it out BEFORE the blow-up, not
    after (a tiny shuffle of raw text rows buys full parallelism)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par).select(
        F.col(id_col).alias("doc_id"), F.explode(shingles(F.split(text_col, " "), k)).alias("s")
    )


def jaccard_verify(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard over candidate pairs (doc_a, doc_b) given the shingle
    table; returns pairs ≥ threshold with the similarity."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(b, (F.col("doc_b") == F.col("b.doc_id")) & (F.col("a.s") == F.col("b.s")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("c") / (F.col("sa.n") + F.col("sb.n") - F.col("c"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def jaccard_pairs(df: DataFrame, threshold: float = 0.8, k: int = 3,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (quadratic candidate gen).

    The shingle table is persisted for the session (it feeds candidate gen
    AND verify; the returned DataFrame stays lazy over it, so it cannot be
    unpersisted here). Spark's storage memory is LRU-evictable; callers
    running many corpora through one session can ``spark.catalog.clearCache()``
    between them."""
    sh = shingle_table(df, id_col, text_col, k).persist()
    a = sh.alias("a")
    b = sh.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return jaccard_verify(cand, sh, threshold)


# Universal-hash family over ONE md5 base hash per shingle: h_i(s) =
# (A_i*base + B_i) mod P. One md5 pass over the exploded shingle table
# instead of n_hashes passes (md5 dominated the minhash cost at sf0.1);
# the affine ops are whole-stage-codegen integer arithmetic. base < 2^28
# and A_i < 2^29 keep the product < 2^57 — safe under Spark 4 ANSI mode.
# Constants are deterministic so the DuckDB oracle reproduces them.
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def minhash_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    return [
        (((0x9E3779B1 * (i + 1)) % (1 << 29)) | 1, (0x85EBCA77 * (i + 1)) % MINHASH_P)
        for i in range(n_hashes)
    ]


def minhash_base(s: Column) -> Column:
    """28-bit integer base hash of a shingle: first 7 hex chars of md5."""
    return F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long")


def minhash_bands(sh: DataFrame, n_hashes: int, band_size: int) -> DataFrame:
    """(doc_id, band_no, band_hash) — LSH bucket table. MinHash_j(doc) =
    min over shingles of the j-th affine hash of the shared md5 base:
    portable, uniform, and order-free (a pure aggregation — one shuffle
    on doc_id)."""
    base = minhash_base(F.col("s"))
    mins = [
        F.min((F.lit(a) * base + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_coeffs(n_hashes))
    ]
    mh = sh.groupBy("doc_id").agg(*mins)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_no"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                )
            ).alias("band_hash"),
        )
        for b in range(n_hashes // band_size)
    ]
    return mh.select("doc_id", F.explode(F.array(*band_structs)).alias("band")).select(
        "doc_id", "band.band_no", "band.band_hash"
    )


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.8, n_hashes: int = 9,
                      band_size: int = 3, k: int = 3, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified — the scale path."""
    sh = shingle_table(df, id_col, text_col, k).persist()
    bands = minhash_bands(sh, n_hashes, band_size)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return jaccard_verify(cand, sh, threshold)


SIMHASH_BITS = 16


def _word_hash16() -> Column:
    """16-bit portable word hash: first 4 hex chars of md5 → int.
    (Spark: conv(hex,16,10); DuckDB oracle: ('0x'||hex)::BIGINT.)"""
    return F.conv(F.substring(F.md5(F.col("w")), 1, 4), 16, 10).cast("long")


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash per document: bit b is set iff the sign-sum of bit b
    over all word occurrences is positive."""
    # same pre-explode fan-out rationale as shingle_table
    par = df.sparkSession.sparkContext.defaultParallelism
    words = df.repartition(par).select(
        F.col(id_col).alias("doc_id"), F.explode(F.split(text_col, " ")).alias("w")
    )
    h = words.withColumn("h", _word_hash16())
    bit_sums = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when((F.col("h").bitwiseAND(F.lit(1 << b))) > 0, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return bit_sums.select("doc_id", sig.cast("long").alias("simhash"))


def simhash_neardup_pairs(df: DataFrame, max_hamming: int = 3,
                          id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash near-dup: candidates share ≥1 of 4 nibble-bands (pigeonhole
    guarantees recall for hamming ≤ 3), verified via bit_count(xor).

    max_hamming > 3 is REJECTED: 4 differing bits can land one per nibble,
    sharing no band — such pairs would silently vanish from the output."""
    if max_hamming > 3:
        raise ValueError(
            "4-nibble banding is only recall-complete for max_hamming <= 3; "
            f"got {max_hamming} — use more/wider bands for larger radii"
        )
    sig = simhash(df, id_col, text_col)
    nibbles = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("nib_no"),
                        F.shiftright("simhash", 4 * i).bitwiseAND(F.lit(0xF)).alias("nib"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("x"),
    ).select("doc_id", "simhash", "x.nib_no", "x.nib")
    a = nibbles.alias("a")
    b = nibbles.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.nib_no") == F.col("b.nib_no"))
            & (F.col("a.nib") == F.col("b.nib"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def minhash_band_state(df: DataFrame, n_hashes: int = 9, band_size: int = 3,
                       k: int = 3, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(doc_id, band_no, band_hash) LSH state for a corpus slice — what an
    ingest pipeline appends per epoch so later batches can near-dup
    against everything already ingested without re-shingling the corpus.
    At scale this lives as a table bucketed/partitioned by band_hash."""
    return minhash_bands(shingle_table(df, id_col, text_col, k), n_hashes, band_size)


def incremental_minhash_flags(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_bands: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = 9,
    band_size: int = 3,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist_registry: list | None = None,
) -> DataFrame:
    """Near-dup flags for a NEW batch against the already-ingested corpus —
    the CDC-shaped dedup: per epoch, only the batch is shingled/minhashed;
    the corpus is touched through (a) its precomputed band table
    (``minhash_band_state``) and (b) a candidate-bounded re-shingle of the
    few matched docs for the exact-Jaccard verify.

    Returns one row per verified pair: (new_doc, matched_doc, jaccard,
    matched_in ∈ {'corpus','batch'}) — 'batch' pairs match an EARLIER
    (smaller id) doc of the same batch, so flag semantics are replay-stable.

    100 TB shape: the batch band table is broadcast into the corpus-band
    join — ONE map-side scan of the (bucketed) corpus state, no corpus
    shuffle; the verify re-shingles only candidate docs (semi-join pushdown
    into the corpus scan). Batch-vs-batch candidates use the banded join,
    never all-pairs.

    The batch shingle table is persisted (it feeds band generation AND
    the verify; the returned DataFrame stays lazy over it, so it cannot
    be unpersisted here). Long-running ingest loops calling this per
    epoch pass ``persist_registry=`` — every DataFrame this call
    persisted is appended to it, and the caller unpersists them once the
    epoch's results are materialized (plans.dedup_ingest does this);
    without a registry, rely on Spark's LRU eviction of storage memory
    or ``spark.catalog.clearCache()`` between corpora."""
    sh_new = shingle_table(new_docs, id_col, text_col, k).persist()
    if persist_registry is not None:
        persist_registry.append(sh_new)
    bands_new = minhash_bands(sh_new, n_hashes, band_size)

    # broadcast is right while the batch band set fits the executor
    # broadcast budget (any realistic microbatch)
    cand_corpus = (
        F.broadcast(bands_new).alias("n")
        .join(
            corpus_bands.alias("c"),
            (F.col("n.band_no") == F.col("c.band_no"))
            & (F.col("n.band_hash") == F.col("c.band_hash"))
            # a re-ingested doc_id is its own trivial match — exclude it
            & (F.col("n.doc_id") != F.col("c.doc_id")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("c.doc_id").alias("matched_doc"),
            F.lit("corpus").alias("matched_in"),
        )
        .distinct()
    )
    a = bands_new.alias("a")
    b = bands_new.alias("b")
    cand_batch = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("b.doc_id").alias("new_doc"),
            F.col("a.doc_id").alias("matched_doc"),
            F.lit("batch").alias("matched_in"),
        )
        .distinct()
    )
    cand = cand_corpus.unionByName(cand_batch)

    # verify shingles: the batch's (already built) + ONLY the corpus docs
    # that appear as candidates (left-semi prunes the corpus scan). The
    # corpus side is TAGGED: a doc_id can exist on BOTH sides (re-ingestion
    # with content drift), and unioning both versions' shingles under one
    # id would inflate sizes in jaccard_verify and under-report similarity
    # — corpus pairs must verify against CORPUS shingles, batch pairs
    # against BATCH shingles.
    matched_corpus_docs = corpus_docs.join(
        cand_corpus.select(F.col("matched_doc").alias(id_col)).distinct(),
        on=id_col,
        how="left_semi",
    )
    # verify keys are "side\\0id" string composites (NUL cannot appear in
    # real ids); the ORIGINAL matched_doc/new_doc are carried alongside so
    # the output keeps the caller's id type
    tag_b = "b\u0000"
    tag_c = "c\u0000"
    sh_corpus = shingle_table(matched_corpus_docs, id_col, text_col, k).select(
        F.concat(F.lit(tag_c), F.col("doc_id").cast("string")).alias("doc_id"), "s"
    )
    sh_verify = sh_new.select(
        F.concat(F.lit(tag_b), F.col("doc_id").cast("string")).alias("doc_id"), "s"
    ).unionByName(sh_corpus)

    pairs = cand.select(
        F.concat(
            F.when(F.col("matched_in") == "corpus", F.lit(tag_c)).otherwise(
                F.lit(tag_b)
            ),
            F.col("matched_doc").cast("string"),
        ).alias("doc_a"),
        F.concat(F.lit(tag_b), F.col("new_doc").cast("string")).alias("doc_b"),
        F.col("new_doc"),
        F.col("matched_doc"),
        "matched_in",
    )
    verified = jaccard_verify(pairs.select("doc_a", "doc_b"), sh_verify, threshold)
    return (
        verified.join(pairs, on=["doc_a", "doc_b"])
        .select("new_doc", "matched_doc", "jaccard", "matched_in")
    )


def _persistent_rdd_ids(sc) -> set[int]:
    """Ids of currently-persisted RDDs (JVM-side). Diffed around an eager
    ``localCheckpoint`` to capture the checkpoint's block-backing RDD —
    Spark exposes no public unpersist for local checkpoints. The diff
    window is one eager materialization; a concurrent job persisting an
    RDD inside it would be mis-captured (acceptable for this operator's
    single-job rounds)."""
    ids: set[int] = set()
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def _unpersist_rdd_ids(sc, ids: set[int]) -> None:
    if not ids:
        return
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in ids:
            kv._2().unpersist(False)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) with component = min node id reachable — the
    step that turns near-dup PAIRS into dedup DECISIONS (one canonical
    doc per transitive cluster).

    Min-label propagation, pure DataFrame joins: each round every node
    takes the minimum of its own label and its neighbors' labels;
    convergence in O(cluster diameter) rounds — near-dup clusters are
    almost-cliques, so 2-3 rounds in practice (``max_iter`` guards
    pathological chains). Each round is one join + one partial-agg
    groupBy on the undirected edge list; the per-round convergence check
    is a count on the CHANGED labels only.

    Each round's labels are ``localCheckpoint``-ed: persist() alone does
    NOT cut lineage — the label plan references itself twice per round,
    so the logical tree doubles every iteration and the ANALYZER (not
    execution) hangs around round ~12 (measured). localCheckpoint
    truncates the plan at the cost of executor-loss recoverability for
    the checkpointed blocks; on an unreliable cluster swap in
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()``.

    The PREVIOUS round's checkpoint blocks are freed as soon as the new
    round has materialized (localCheckpoint has no public unpersist, so
    the block ids are diffed around each checkpoint and released through
    the JVM handle) — otherwise storage grows O(rounds × nodes). Only
    rounds strictly before the returned labels are freed; the final
    table's blocks stay (they ARE the result).

    ``nodes``: optional 1-column DataFrame of ALL node ids — isolated
    nodes (no edges) then appear as their own singleton components.
    """
    sc = edges.sparkSession.sparkContext
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    labels = und.select(F.col("a").alias("node")).distinct()
    if nodes is not None:
        only = nodes.toDF("node")
        labels = labels.unionByName(only).distinct()
    before = _persistent_rdd_ids(sc)
    labels = labels.withColumn("comp", F.col("node")).localCheckpoint(eager=True)
    labels_block_ids = _persistent_rdd_ids(sc) - before

    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und.b == labels.node)
            .groupBy("a")
            .agg(F.min("comp").alias("ncomp"))
        )
        before = _persistent_rdd_ids(sc)
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))).alias(
                    "comp"
                ),
                (F.col("ncomp") < F.col("comp")).alias("_changed"),
            )
        ).localCheckpoint(eager=True)
        new_block_ids = _persistent_rdd_ids(sc) - before
        changed = new_labels.filter(F.col("_changed")).limit(1).count()
        # the new round is materialized — the previous round's checkpoint
        # blocks can no longer be referenced; free them now
        _unpersist_rdd_ids(sc, labels_block_ids)
        labels_block_ids = new_block_ids
        labels = new_labels.drop("_changed")
        if changed == 0:
            converged = True
            break
    und.unpersist()
    if not converged:
        # an unconverged label table is silently WRONG dedup decisions —
        # refuse (propagation needs O(longest chain) rounds; raise
        # max_iter for pathological chain-shaped clusters)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "increase max_iter (cluster diameter exceeds it)"
        )
    return labels.select("node", "comp")


def neardup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Resolve verified near-dup pairs into per-document dedup decisions:
    (doc_id, cluster_id, is_canonical). Every document appears — docs
    without a near-dup are their own singleton cluster — and exactly one
    doc per cluster (the min id) is canonical, so
    ``filter(is_canonical)`` IS the deduplicated corpus."""
    cc = connected_components(
        pairs, nodes=docs.select(id_col), src="doc_a", dst="doc_b"
    )
    return cc.select(
        F.col("node").alias(id_col),
        F.col("comp").alias("cluster_id"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    )
