"""Similarity search over embedding columns (training-data pipeline ops).

- brute-force cosine top-k: exact baseline; column-expression dot products
  (F.aggregate over zip_with — JVM-side, no Python) against a broadcast query
  set, then windowed top-k with deterministic tie-break.
- LSH-bucketed (random hyperplane signs) variant: the scale path — candidate
  generation via sign-bucket equality, exact re-rank of candidates only.
- IVF-style variant: numpy k-means-lite centroids (driver, deterministic),
  route each vector to nearest centroid, search only matching cells.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _cosine_expr(a: str, b: str):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — exact top-k per query.

    ``queries`` is broadcast (small query set x large corpus).  Excludes
    self-matches.  Ties break on neighbor_id for determinism.
    """
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    v = vectors.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).cast("array<double>").alias("nv"))
    target = vectors.sparkSession.sparkContext.defaultParallelism
    if v.rdd.getNumPartitions() < target:
        # single-split corpora otherwise score every (vector, query) pair
        # on ONE core before the window shuffle (guide §2.5 input skew);
        # a many-split 100 TB corpus skips this
        v = v.repartition(target)
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                _cosine_expr("qv", "nv").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _plane_bucket_series(batch, *, planes, weights):
    """``hyperplane_signatures`` kernel: vectors -> packed sign pattern."""
    M = np.array(batch.tolist(), dtype=np.float64)     # (n, dim)
    signs = (M @ planes >= 0).astype(np.int64)          # (n, planes)
    return pd.Series(signs @ weights)


def _plane_buckets_multi_series(batch, *, planes, weights, n_planes):
    """``hyperplane_signatures_multi`` kernel: vectors -> one packed sign
    pattern per table."""
    M = np.array(batch.tolist(), dtype=np.float64)
    signs = (M @ planes >= 0).astype(np.int64)   # (n, planes*tables)
    per_table = signs.reshape(len(M), -1, n_planes) @ weights  # (n, tables)
    return pd.Series([row.tolist() for row in per_table])


def hyperplane_signatures(vectors: DataFrame, n_planes: int = 16, seed: int = 23,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          dim: int = 64) -> DataFrame:
    """(id, bucket) — sign pattern under ``n_planes`` random hyperplanes,
    packed into one long.  Vectorized pandas kernel (numpy matmul)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes))
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    sig_udf = F.pandas_udf(
        partial(_plane_bucket_series, planes=planes, weights=weights), "long")
    return vectors.select(F.col(id_col).alias("id"),
                          sig_udf(F.col(vec_col)).alias("bucket"))


def hyperplane_signatures_multi(vectors: DataFrame, n_planes: int = 12,
                                n_tables: int = 4, seed: int = 23,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                dim: int = 64) -> DataFrame:
    """(id, table, bucket) — ``n_tables`` independent sign-bucket tables in
    ONE Arrow pass: a single (dim, n_planes*n_tables) matmul per batch
    instead of one corpus scan per table.  Plane t's block uses the same
    seed stream as ``hyperplane_signatures(seed + 7919*t)`` so results are
    interchangeable with the per-table path.
    """
    blocks = [np.random.default_rng(seed + 7919 * t)
              .standard_normal((dim, n_planes)) for t in range(n_tables)]
    planes = np.concatenate(blocks, axis=1)          # (dim, planes*tables)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    sig_udf = F.pandas_udf(
        partial(_plane_buckets_multi_series, planes=planes, weights=weights,
                n_planes=n_planes),
        "array<long>")
    return vectors.select(
        F.col(id_col).alias("id"),
        F.posexplode(sig_udf(F.col(vec_col))).alias("table", "bucket"))


def lsh_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
             n_planes: int = 12, seed: int = 23, id_col: str = "vec_id",
             vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Approximate top-k: hyperplane-bucket equality join for candidates,
    exact cosine re-rank of candidates only.  Recall rises as n_planes falls."""
    vs = hyperplane_signatures(vectors, n_planes, seed, id_col, vec_col, dim)
    qs = hyperplane_signatures(queries, n_planes, seed, id_col, vec_col, dim)
    cand = (
        vs.select(F.col("id").alias("neighbor_id"), "bucket")
        .join(F.broadcast(qs.select(F.col("id").alias("query_id"), "bucket")),
              "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    v = vectors.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).cast("array<double>").alias("nv"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    scored = (
        cand.join(v, "neighbor_id").join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", _cosine_expr("qv", "nv").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk_multi(vectors: DataFrame, queries: DataFrame, k: int = 5,
                   n_planes: int = 12, n_tables: int = 4, seed: int = 23,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   dim: int = 64) -> DataFrame:
    """Multi-table hyperplane LSH: ``n_tables`` independent sign-bucket
    tables, candidates = union of per-table bucket matches, exact cosine
    re-rank of the distinct union.

    A single table's recall is capped by the chance that a true neighbor
    agrees on all ``n_planes`` signs; L independent tables raise recall to
    1-(1-p)^L while the candidate join stays bucket-equality (no all-pairs).
    All L signatures come from ONE corpus pass (hyperplane_signatures_multi).
    """
    vs = hyperplane_signatures_multi(vectors, n_planes, n_tables, seed,
                                     id_col, vec_col, dim)
    qs = hyperplane_signatures_multi(queries, n_planes, n_tables, seed,
                                     id_col, vec_col, dim)
    cand = (
        vs.select(F.col("id").alias("neighbor_id"), "table", "bucket")
        .join(F.broadcast(qs.select(F.col("id").alias("query_id"),
                                    "table", "bucket")),
              ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    v = vectors.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).cast("array<double>").alias("nv"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    scored = (
        cand.join(v, "neighbor_id").join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", _cosine_expr("qv", "nv").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_neardup_pairs(vectors: DataFrame, threshold: float = 0.9,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """(id_a < id_b, cosine) — EXACT embedding-cosine near-duplicate pairs.

    All-pairs O(n^2): this is the oracle/verifier baseline, positioned like
    ``brute_force_topk`` — use ``cosine_neardup_pairs_lsh`` as the scale
    path and this to measure its recall on samples.
    """
    a = vectors.select(F.col(id_col).alias("id_a"),
                       F.col(vec_col).cast("array<double>").alias("va"))
    b = vectors.select(F.col(id_col).alias("id_b"),
                       F.col(vec_col).cast("array<double>").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cosine_expr("va", "vb").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_neardup_pairs_lsh(vectors: DataFrame, threshold: float = 0.9,
                             n_planes: int = 8, n_tables: int = 4,
                             seed: int = 23, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             dim: int = 64,
                             max_bucket_size: int | None = 10_000
                             ) -> DataFrame:
    """Scale path for embedding-cosine near-dup: multi-table hyperplane
    bucket SELF-join for candidates, exact cosine on candidates only.

    Near-parallel pairs (angle theta) collide per table with
    (1 - theta/pi)^n_planes; ``n_tables`` independent tables raise recall
    to 1-(1-p)^L while every join stays bucket-equality — candidate volume
    scales with bucket occupancy, not the quadratic pair space.  All L
    signatures come from ONE corpus pass (hyperplane_signatures_multi).

    ``n_planes`` is a REQUIRED tuning knob, not a constant: the default 8
    gives only 256 buckets per table, so beyond ~a few million vectors
    nearly every bucket exceeds ``max_bucket_size`` and the operator
    degenerates to hub-star pairs (recall collapses exactly at scale).
    Size it as n_planes >= log2(n_vectors / target_bucket) — see
    ``recommended_n_planes`` — and check
    ``dedup.star_reduction_stats(hyperplane_signatures_multi(...),
    ["table", "bucket"], max_bucket_size)``: hot_frac should be ~0.
    Raising n_planes trades per-table recall (recovered via ``n_tables``)
    for bounded buckets; capping does NOT recover it — a hot hyperplane
    bucket only means sign agreement, not near-identity, so its star pairs
    mostly fail the cosine filter.
    """
    from .dedup import banded_self_join_pairs
    s = hyperplane_signatures_multi(vectors, n_planes, n_tables, seed,
                                    id_col, vec_col, dim)
    cand = banded_self_join_pairs(s, ["table", "bucket"],
                                  max_bucket_size=max_bucket_size)
    va = vectors.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).cast("array<double>").alias("va"))
    vb = vectors.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).cast("array<double>").alias("vb"))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b", _cosine_expr("va", "vb").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def recommended_n_planes(n_vectors: int, target_bucket: int = 1024) -> int:
    """Smallest n_planes keeping the EXPECTED hyperplane bucket under
    ``target_bucket`` members (uniform-occupancy estimate: n / 2^planes).
    Clustered corpora concentrate mass — verify with
    ``dedup.star_reduction_stats`` and add planes if hot_frac > 0."""
    planes = 1
    while n_vectors / (1 << planes) > target_bucket and planes < 62:
        planes += 1
    return max(planes, 4)


def _cell_distances(batch, centroids):
    M = np.array(batch.tolist(), dtype=np.float64)
    return ((M[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)


def _nearest_cell_series(batch, *, centroids):
    """``ivf_topk`` corpus kernel: vectors -> nearest cell."""
    return pd.Series(_cell_distances(batch, centroids).argmin(axis=1)
                     .astype(np.int32))


def _probe_cells_series(batch, *, centroids, n_probe):
    """``ivf_topk`` query kernel: vectors -> the ``n_probe`` nearest cells."""
    order = np.argsort(_cell_distances(batch, centroids), axis=1)[:, :n_probe]
    return pd.Series([row.astype("int32").tolist() for row in order])


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
             n_cells: int = 8, n_probe: int = 2, seed: int = 23,
             id_col: str = "vec_id", vec_col: str = "embedding",
             sample_size: int = 2048,
             corpus_count: int | None = None) -> DataFrame:
    """IVF: coarse-quantize the corpus into ``n_cells`` cells (centroids from
    a deterministic sample, few Lloyd rounds on the driver), search the
    ``n_probe`` nearest cells per query, exact re-rank within.

    The centroid sample is a deterministic HASH sample: keep rows with
    ``xxhash64(id) % m == 0`` where m targets ~4x sample_size survivors,
    then order only the tiny filtered set by id — the corpus itself is
    scanned once with a pushed-down filter and never sorted.  Pass
    ``corpus_count`` to skip the sizing count(): omitting it costs one
    extra full corpus scan per call (cheap vs the search, but not free).

    If skewed hash survivors leave the sample short of ``n_cells`` (corpora
    just past the m>=2 boundary), the sample is re-pulled unfiltered (m=1);
    a still-short sample seeds duplicate centroids (choice with
    replacement) — Lloyd leaves an empty cell's centroid in place, so the
    search degrades to fewer effective cells rather than raising."""
    n = corpus_count if corpus_count is not None else vectors.count()
    m = max(1, n // (sample_size * 4))

    def _pull(mod: int) -> np.ndarray:
        rows = (vectors
                .filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0)
                .select(vec_col).orderBy(id_col)
                .limit(sample_size).collect())
        return np.array([r[0] for r in rows], dtype=np.float64)

    sample = _pull(m)
    if len(sample) < n_cells and m > 1:
        sample = _pull(1)
    if len(sample) == 0:
        raise ValueError("ivf_topk: empty corpus")
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), size=n_cells,
                                  replace=len(sample) < n_cells)]
    for _ in range(5):  # Lloyd
        d = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_cells):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)

    cell_udf = F.pandas_udf(partial(_nearest_cell_series, centroids=centroids),
                            "int")
    probe_udf = F.pandas_udf(
        partial(_probe_cells_series, centroids=centroids, n_probe=n_probe),
        "array<int>")

    v = vectors.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).cast("array<double>").alias("nv"),
                       cell_udf(F.col(vec_col)).alias("cell"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv"),
                       F.explode(probe_udf(F.col(vec_col))).alias("cell"))
    scored = (
        v.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cosine_expr("qv", "nv").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
