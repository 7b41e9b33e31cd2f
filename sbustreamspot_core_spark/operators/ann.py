"""Similarity search over embedding columns (training-data pipeline ops).

- brute-force cosine top-k: exact baseline; column-expression dot products
  (F.aggregate over zip_with — JVM-side, no Python) against a broadcast query
  set, then windowed top-k with deterministic tie-break.
- IVF-style variant: numpy k-means-lite centroids (driver, deterministic),
  route each vector to nearest centroid, search only matching cells.
- exact embedding-cosine near-duplicate pairs (all-pairs, small corpora).

Every operator reads ids from ``vec_id`` and vectors from ``embedding``.
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


def brute_force_topk(vectors: DataFrame, queries: DataFrame,
                     k: int = 5) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — exact top-k per query.

    ``queries`` is broadcast (small query set x large corpus).  Excludes
    self-matches.  Ties break on neighbor_id for determinism.
    """
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").cast("array<double>").alias("qv"))
    v = vectors.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").cast("array<double>").alias("nv"))
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


def cosine_neardup_pairs(vectors: DataFrame,
                         threshold: float = 0.9) -> DataFrame:
    """(id_a < id_b, cosine) — EXACT embedding-cosine near-duplicate pairs.

    All-pairs O(n^2), like ``brute_force_topk``: an exact baseline for
    small corpora.
    """
    a = vectors.select(F.col("vec_id").alias("id_a"),
                       F.col("embedding").cast("array<double>").alias("va"))
    b = vectors.select(F.col("vec_id").alias("id_b"),
                       F.col("embedding").cast("array<double>").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cosine_expr("va", "vb").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


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
             n_cells: int = 8, n_probe: int = 2,
             sample_size: int = 2048) -> DataFrame:
    """IVF: coarse-quantize the corpus into ``n_cells`` cells (centroids from
    a deterministic sample, few Lloyd rounds on the driver), search the
    ``n_probe`` nearest cells per query, exact re-rank within.

    The centroid sample is a deterministic HASH sample: keep rows with
    ``xxhash64(id) % m == 0`` where m targets ~4x sample_size survivors,
    then order only the tiny filtered set by id — the corpus itself is
    scanned once with a pushed-down filter and never sorted.  Sizing m
    costs one count(), one extra full corpus scan per call (cheap vs the
    search, but not free).  The centroid seeds are drawn with seed 23.

    If skewed hash survivors leave the sample short of ``n_cells`` (corpora
    just past the m>=2 boundary), the sample is re-pulled unfiltered (m=1);
    a still-short sample seeds duplicate centroids (choice with
    replacement) — Lloyd leaves an empty cell's centroid in place, so the
    search degrades to fewer effective cells rather than raising."""
    m = max(1, vectors.count() // (sample_size * 4))

    def _pull(mod: int) -> np.ndarray:
        rows = (vectors
                .filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mod)) == 0)
                .select("embedding").orderBy("vec_id")
                .limit(sample_size).collect())
        return np.array([r[0] for r in rows], dtype=np.float64)

    sample = _pull(m)
    if len(sample) < n_cells and m > 1:
        sample = _pull(1)
    if len(sample) == 0:
        raise ValueError("ivf_topk: empty corpus")
    rng = np.random.default_rng(23)
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

    v = vectors.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").cast("array<double>").alias("nv"),
                       cell_udf(F.col("embedding")).alias("cell"))
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").cast("array<double>").alias("qv"),
                       F.explode(probe_udf(F.col("embedding"))).alias("cell"))
    scored = (
        v.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cosine_expr("qv", "nv").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
