"""Pairwise graph similarity operators.

Reference semantics:
- exact cosine over shingle vectors (graph.cpp:440-461).
- StreamHash/SimHash estimated similarity = fraction of equal sketch bits
  (streamhash.cpp:17-20, simhash.cpp:29-32).
- angular transforms: angsim = 1 - acos(cos)/pi, est_cos = cos(pi*(1-sim))
  (main.cpp:584-605).

The exact cosine is computed *sparsely* from the long-format chunk-count
table: a self-equi-join on the chunk key yields the dot products (only pairs
sharing at least one chunk — all other cosines are exactly 0), which is the
join-based rewrite of the reference's dense vector scan.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PI, StreamSpotParams
from ..functions.sketches import sketch_similarity_series


def shingle_cosine_pairs(chunk_counts: DataFrame) -> DataFrame:
    """(gid_a, gid_b, cosine) for all pairs sharing >= 1 chunk, gid_a < gid_b.

    cosine = dot / (||a|| * ||b||) over integer chunk counts
    (graph.cpp:440-461); integer dot products make the result deterministic.
    """
    norms = chunk_counts.groupBy("gid").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("norm_sq"))
    a = chunk_counts.select(F.col("gid").alias("gid_a"), "chunk",
                            F.col("cnt").alias("cnt_a"))
    b = chunk_counts.select(F.col("gid").alias("gid_b"), "chunk",
                            F.col("cnt").alias("cnt_b"))
    dots = (
        a.join(b, "chunk")
        .filter(F.col("gid_a") < F.col("gid_b"))
        .groupBy("gid_a", "gid_b")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("dot"))
    )
    return (
        dots.join(norms.withColumnRenamed("gid", "gid_a")
                  .withColumnRenamed("norm_sq", "norm_a"), "gid_a")
        .join(norms.withColumnRenamed("gid", "gid_b")
              .withColumnRenamed("norm_sq", "norm_b"), "gid_b")
        .select(
            "gid_a", "gid_b",
            (F.col("dot") / (F.sqrt("norm_a") * F.sqrt("norm_b"))).alias("cosine"),
        )
    )


def all_pairs_sketch_similarity(sketches: DataFrame, params: StreamSpotParams,
                                lsh_prune: DataFrame | None = None) -> DataFrame:
    """(gid_a, gid_b, similarity, est_cos, dist) over sketch pairs.

    Small inputs: full cross join (main.cpp:584-605).  At scale pass
    ``lsh_prune`` = candidate-pair table from ``lsh.candidate_pairs`` to
    restrict to bucket-sharing pairs.
    """
    sim_udf = F.pandas_udf(partial(sketch_similarity_series, L=params.L),
                           "double")
    left = sketches.select(F.col("gid").alias("gid_a"), F.col("sketch").alias("sk_a"))
    right = sketches.select(F.col("gid").alias("gid_b"), F.col("sketch").alias("sk_b"))
    if lsh_prune is not None:
        pairs = lsh_prune.join(left, "gid_a").join(right, "gid_b")
    else:
        pairs = left.crossJoin(right).filter(F.col("gid_a") < F.col("gid_b"))
    return (
        pairs.withColumn("similarity", sim_udf("sk_a", "sk_b"))
        .withColumn("est_cos", F.cos(PI * (1.0 - F.col("similarity"))))
        .withColumn("dist", 1.0 - F.col("est_cos"))
        .select("gid_a", "gid_b", "similarity", "est_cos", "dist")
    )


def angular_similarity_expr(cosine_col: str):
    """angsim = 1 - acos(cos)/pi (main.cpp:591), clamped for float safety."""
    clamped = F.least(F.greatest(F.col(cosine_col), F.lit(-1.0)), F.lit(1.0))
    return 1.0 - F.acos(clamped) / PI
