"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — exact baseline: broadcast the query set,
  score every candidate with JVM higher-order functions (zip_with +
  aggregate — no Python), window top-k. Linear scan: right answer for
  small query sets or as the verifier.
* random-hyperplane LSH — a scale path: H deterministic hyperplanes →
  H-bit signature → candidates share the signature bucket (or a banded
  sub-signature) → exact rerank inside buckets. Recall < 1 by design;
  tune n_planes/bands for the recall/cost point.
* IVF (inverted-file) — the other scale path: deterministic seed
  centroids + one Lloyd refinement step, vectors partitioned into
  inverted lists by nearest centroid; a query probes only its
  ``n_probe`` nearest lists and reranks exactly. Everything is
  DataFrame ops (the Lloyd step is a posexplode/avg/re-collect), so the
  DuckDB oracle reproduces assignments bit-for-bit (similarities are
  rounded before every argmin to absorb FP summation-order noise).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns, computed in double."""
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(ad, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(bd, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def _topk_per_query(scored: DataFrame, k: int, local_prefilter: bool) -> DataFrame:
    """Final per-query top-k over (query_id, neighbor_id, sim6) rows.

    A rank window alone is a scale trap: ``row_number() OVER (PARTITION BY
    query_id)`` funnels EVERY scored candidate of a query through one
    reducer — rank windows do no partial aggregation, so at corpus scale
    that is the whole dataset through one task per query. With
    ``local_prefilter=True`` a map-side pandas pass (a ``mapInPandas``
    partial reduce: one vectorized sort per Arrow batch, the pandas
    analog of map-side combine) keeps only the top-k per query per Arrow
    batch BEFORE any exchange — every global
    top-k row is top-k in its own batch, so this is exact — and the window
    then sorts ≤ k × n_batches rows per query instead of the corpus.

    ``local_prefilter=False`` is for callers whose candidate set is
    already bounded per query (LSH bucket / IVF probed lists): there the
    window input is small by construction and the extra Arrow hop would
    cost more than it saves.
    """
    if local_prefilter:
        names = ["query_id", "neighbor_id", "sim6"]
        by_name = {f.name: f.dataType.simpleString() for f in scored.schema.fields}
        ddl = ", ".join(f"{n} {by_name[n]}" for n in names)

        def local_topk(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                yield (
                    pdf.sort_values(
                        ["query_id", "sim6", "neighbor_id"],
                        ascending=[True, False, True],
                        kind="mergesort",
                    )
                    .groupby("query_id", sort=False)
                    .head(k)
                )

        scored = scored.select(*names).mapInPandas(local_topk, schema=ddl)
    w = W.partitionBy("query_id").orderBy(F.col("sim6").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim6", 4).alias("cosine"))
    )


def ann_brute_force(emb: DataFrame, queries: DataFrame, k: int = 5,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors for each query vector.

    ``queries`` must have columns (query_id, qe). The query side is
    broadcast — at 100 TB the candidate scan is the only large side and it
    never shuffles (map-side JVM scoring); the per-query top-k is a
    map-side bounded prefilter + tiny final window (``_topk_per_query``),
    so no reducer ever sees a full query's candidate set."""
    sims = F.broadcast(queries).join(
        emb, F.col(id_col) != F.col("query_id")
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(F.col("qe"), F.col(vec_col)), 6).alias("sim6"),
    )
    return _topk_per_query(sims, k, local_prefilter=True)


def hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (inlined as literals so the SQL
    oracle can reproduce signatures bit-for-bit)."""
    rng = np.random.default_rng(seed)
    return [[round(float(x), 6) for x in rng.standard_normal(dim)] for _ in range(n_planes)]


def lsh_signature(vec_col: Column, planes: list[list[float]]) -> Column:
    """H-bit signature: bit j = sign(dot(vec, plane_j)) > 0."""
    sig = None
    for j, plane in enumerate(planes):
        arr = F.array(*[F.lit(x) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec_col.cast("array<double>"), arr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sig.cast("long")


def _argmin_centroid(
    vecs: DataFrame, centroids: DataFrame, id_col: str, vec_expr: str,
    carry: str | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid: broadcast the (small)
    centroid table, cosine against every centroid, keep the best (rounded
    sim, centroid-id tiebreak — deterministic across engines).

    The argmin is a ``max_by`` HASH AGGREGATION over the ordering struct
    ``(csim, -cid)`` — identical winner to ``row_number() OVER (ORDER BY
    csim DESC, cid)`` rank 1, but with MAP-SIDE partial aggregation: the
    n_centroids scored rows per vector collapse before the exchange,
    where the previous rank window shuffled and per-key-sorted all of
    them (a rank window does no partial aggregation — the same scale trap
    ``_topk_per_query`` documents).

    ``carry`` names a column of ``vecs`` to ride through the argmin
    (e.g. the vector itself), so callers need no join-back against the
    corpus to re-attach it — that join was a second full-corpus shuffle.
    """
    cols = [
        F.col(id_col),
        F.col("cid"),
        F.round(cosine(F.col(vec_expr), F.col("centroid")), 6).alias("csim"),
    ]
    if carry is not None:
        cols.append(F.col(carry))
    scored = vecs.join(F.broadcast(centroids)).select(*cols)
    val = F.struct(F.col("cid"), *([F.col(carry)] if carry else []))
    order = F.struct(F.col("csim"), (-F.col("cid")).alias("_nc"))
    best = scored.groupBy(id_col).agg(F.max_by(val, order).alias("_best"))
    out = [F.col(id_col), F.col("_best.cid").alias("cid")]
    if carry is not None:
        out.append(F.col(f"_best.{carry}").alias(carry))
    return best.select(*out)


def ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float = 1.0,
) -> DataFrame:
    """(cid, centroid): deterministic seed vectors (the ``n_centroids``
    rows with the smallest ``md5(id)`` — a hash-rank, so seeds spread
    pseudo-randomly across the id domain yet exist for ANY non-empty
    corpus, unlike a hash-residue filter whose expected hit count on a
    tiny corpus is fractional) refined by ONE Lloyd step — assign the
    TRAINING set to seeds, recompute elementwise means. Hashing the id
    keeps non-numeric ids working (a raw ``id % mod`` predicate fails
    Spark's ANSI cast on string ids), and ``md5`` renders identically in
    DuckDB, so the oracle reproduces the exact seed set. The
    ``orderBy(...).limit(n)`` pair compiles to TakeOrderedAndProject —
    a distributed per-partition top-k merge, never a global sort.

    ``train_fraction`` < 1 trains the Lloyd step on a deterministic
    md5-hash sample of the corpus — the 100 TB shape: centroid quality
    needs only a representative sample, and the full-corpus pass is saved
    for the one real assignment in :func:`ann_ivf`. The sample predicate
    is an md5 prefix mod basis points (functions.sampling — not
    ``rand()``) so an independent SQL engine reproduces the exact
    training set; fractions that quantize to an empty sample raise
    instead of silently returning zero neighbors."""
    from data_hub_ejp_xml_pipeline_spark.functions import sampling

    if not 0.0 < train_fraction <= 1.0:
        raise ValueError(f"train_fraction must be in (0, 1], got {train_fraction}")
    w_seed = W.orderBy(id_col)
    seeds = (
        emb.orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .limit(n_centroids)
        .select(
            (F.row_number().over(w_seed) - 1).alias("cid"),
            F.col(vec_col).cast("array<double>").alias("centroid"),
        )
    )
    train = emb
    if train_fraction < 1.0:
        thr = sampling.sample_threshold(train_fraction)
        train = emb.filter(
            sampling.md5_mod_col(id_col, sampling.SAMPLE_BASIS) < thr
        )
    # the vector rides the argmin (carry) — no join-back against the
    # training set, which was a second full shuffle of it
    assigned = _argmin_centroid(
        train.select(id_col, F.col(vec_col).alias("_v")), seeds, id_col, "_v",
        carry="_v",
    )
    # elementwise mean per cluster: posexplode → avg per (cid, pos) →
    # re-collect in position order; dims rounded so both engines agree
    dims = assigned.select(
        "cid", F.posexplode(F.col("_v").cast("array<double>")).alias("pos", "x")
    )
    per_dim = dims.groupBy("cid", "pos").agg(F.round(F.avg("x"), 9).alias("m"))
    return per_dim.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def ann_ivf(
    emb: DataFrame,
    queries: DataFrame,
    n_centroids: int = 8,
    n_probe: int = 3,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_fraction: float = 1.0,
) -> DataFrame:
    """IVF ANN: inverted lists on refined centroids; each query probes its
    ``n_probe`` nearest lists and reranks exactly. The big side shuffles
    once (on cid for the list join); centroids and queries broadcast.
    Approximate (recall < 1 when the true neighbor lives in an unprobed
    list). ``train_fraction`` samples the centroid TRAINING pass only —
    the inverted lists always cover the full corpus."""
    # cents feeds TWO consumers (the list assignment and the query
    # probes); persist so the training pipeline (hash-rank seeds + Lloyd
    # step) executes once — it is n_centroids rows, the cache is free.
    # The returned frame stays lazy over it; Spark storage is
    # LRU-evictable (same session-lifetime stance as jaccard_pairs).
    cents = ivf_centroids(emb, n_centroids, id_col=id_col, vec_col=vec_col,
                          train_fraction=train_fraction).persist()
    lists = _argmin_centroid(
        emb.select(id_col, F.col(vec_col).alias("_v")), cents, id_col, "_v",
        carry="_v",
    ).select(id_col, "cid", F.col("_v").alias(vec_col))

    probe_scored = queries.join(F.broadcast(cents)).select(
        "query_id", "qe", "cid",
        F.round(cosine(F.col("qe"), F.col("centroid")), 6).alias("csim"),
    )
    wq = W.partitionBy("query_id").orderBy(F.col("csim").desc(), "cid")
    probes = (
        probe_scored.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "qe", "cid")
    )
    scored = F.broadcast(probes).join(
        lists, (probes["cid"] == lists["cid"]) & (F.col(id_col) != F.col("query_id"))
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(F.col("qe"), F.col(vec_col)), 6).alias("sim6"),
    )
    # candidate set per query is bounded by the probed lists (n_probe
    # lists × list size), so the final window input is small by
    # construction — no map-side prefilter needed
    return _topk_per_query(scored, k, local_prefilter=False)


def ann_lsh(
    emb: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = False,
) -> DataFrame:
    """LSH-bucketed ANN: equi-join on the signature bucket, exact rerank
    within the bucket. One shuffle on the bucket key instead of a full
    cross product — the 100 TB shape. Approximate (recall < 1).

    ``multiprobe=True``: each query ALSO probes every 1-bit flip of its
    signature (H+1 probes total), recovering near-boundary neighbors whose
    signature differs by one hyperplane — the standard recall fix, costing
    H extra broadcast-side rows per query. The probe buckets are pairwise
    distinct and each candidate lives in exactly one bucket, so a
    (query, neighbor) pair matches at most one probe — no dedup needed."""
    sig = lsh_signature(F.col(vec_col), planes)
    cand = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("ce"),
                      sig.alias("bucket"))
    qs = queries.select("query_id", "qe", lsh_signature(F.col("qe"), planes).alias("bucket"))
    if multiprobe:
        qs = qs.select(
            "query_id",
            "qe",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << j))
                        for j in range(len(planes))
                    ],
                )
            ).alias("bucket"),
        )
    qs2 = F.broadcast(qs).alias("q")
    cand2 = cand.alias("c")
    scored = qs2.join(
        cand2,
        (F.col("q.bucket") == F.col("c.bucket")) & (F.col("c.neighbor_id") != F.col("q.query_id")),
    ).select(
        F.col("q.query_id").alias("query_id"),
        F.col("c.neighbor_id").alias("neighbor_id"),
        F.round(cosine(F.col("q.qe"), F.col("c.ce")), 6).alias("sim6"),
    )
    # per-query candidates are bounded by the signature bucket size —
    # window input is small by construction (see _topk_per_query)
    return _topk_per_query(scored, k, local_prefilter=False)


def ann_lsh_multiprobe(
    emb: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Convenience alias: ``ann_lsh(..., multiprobe=True)``."""
    return ann_lsh(emb, queries, planes, k, id_col, vec_col, multiprobe=True)
