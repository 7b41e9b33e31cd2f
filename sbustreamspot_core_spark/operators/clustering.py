"""Centroid construction, nearest-centroid assignment, anomaly flagging.

Reference semantics:
- centroid = element-wise mean of member projections; centroid sketch =
  sign(centroid projection) (cluster.cpp:76-101).
- distance(graph, centroid) = 1 - cos(pi * (1 - streamhash_similarity))
  (cluster.cpp:124-126).
- anomaly iff min distance > min(global_threshold, threshold[nearest])
  (cluster.cpp:147-150).

Spark shape: centroids are O(#clusters) rows — broadcast-joined against the
(large) per-graph sketch table (J3 in SURVEY.md), argmin via min_by with a
deterministic (distance, cluster_id) tie-break.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ANOMALY, PI, StreamSpotParams
from ..functions.sketches import pack_sketch, sketch_similarity_series

CENTROID_SCHEMA = (
    "cluster_id int, projection array<double>, sketch binary, size long"
)


def _centroid_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """``build_centroids`` kernel: one cluster's member projections -> its
    (cluster_id, projection, sketch, size) row."""
    proj = np.array(pdf["projection"].tolist(), dtype=np.float64)
    mean = proj.mean(axis=0)
    bits = (mean >= 0).astype(np.uint8)[None, :]
    return pd.DataFrame({
        "cluster_id": [int(pdf["cluster_id"].iloc[0])],
        "projection": [mean.tolist()],
        "sketch": [pack_sketch(bits)[0].tobytes()],
        "size": [len(pdf)],
    })


def build_centroids(sketches: DataFrame, membership: DataFrame,
                    params: StreamSpotParams) -> DataFrame:
    """(cluster_id, projection, sketch, size) from member projections.

    membership: (cluster_id int, gid long).  Mean + sign per cluster.cpp:76-101.
    """
    joined = sketches.join(membership.select("cluster_id", "gid"), "gid")
    return joined.groupBy("cluster_id").applyInPandas(_centroid_group, CENTROID_SCHEMA)


def graph_centroid_distances(sketches: DataFrame, centroids: DataFrame,
                             params: StreamSpotParams) -> DataFrame:
    """(gid, cluster_id, similarity, dist) for every graph x centroid pair.

    Centroids are broadcast (J3: O(#clusters) rows); the per-pair similarity
    is one Arrow-batched popcount kernel.
    """
    sim_udf = F.pandas_udf(partial(sketch_similarity_series, L=params.L),
                           "double")

    pairs = sketches.select("gid", F.col("sketch").alias("g_sketch")).crossJoin(
        F.broadcast(centroids.select("cluster_id", F.col("sketch").alias("c_sketch")))
    )
    return (
        pairs.withColumn("similarity", sim_udf("g_sketch", "c_sketch"))
        .withColumn("dist", 1.0 - F.cos(PI * (1.0 - F.col("similarity"))))
        .select("gid", "cluster_id", "similarity", "dist")
    )


def assign_clusters(sketches: DataFrame, centroids: DataFrame,
                    thresholds: DataFrame, global_threshold: float,
                    params: StreamSpotParams,
                    round_digits: int | None = None) -> DataFrame:
    """(gid, cluster_id, anomaly_score, is_anomaly).

    cluster_id = ANOMALY (-1) when the threshold predicate fires
    (cluster.cpp:141-150).  thresholds: (cluster_id int, threshold double).
    Ties in the argmin break to the smallest cluster_id (the reference's
    strict ``<`` scan over clusters in index order, cluster.cpp:130-133).

    round_digits: when set, the threshold predicate compares the distance
    rounded to that many decimals — for cross-engine verification a 1-ulp
    libm difference (JVM Math.cos vs DuckDB cos) exactly at a threshold
    boundary must not flip is_anomaly/cluster_id.  Default (None) keeps the
    reference's full-precision predicate.
    """
    dists = graph_centroid_distances(sketches, centroids, params)
    nearest = dists.groupBy("gid").agg(
        F.min_by(F.struct("cluster_id", "dist"),
                 F.struct("dist", "cluster_id")).alias("best")
    ).select(
        "gid",
        F.col("best.cluster_id").alias("nearest_cluster"),
        F.col("best.dist").alias("anomaly_score"),
    )
    out = nearest.join(
        F.broadcast(thresholds.withColumnRenamed("cluster_id", "nearest_cluster")),
        "nearest_cluster",
    )
    score = (F.col("anomaly_score") if round_digits is None
             else F.round("anomaly_score", round_digits))
    is_anom = score > F.least(
        F.lit(float(global_threshold)), F.col("threshold"))
    return out.select(
        "gid",
        F.when(is_anom, F.lit(ANOMALY)).otherwise(F.col("nearest_cluster"))
        .alias("cluster_id"),
        "anomaly_score",
        is_anom.alias("is_anomaly"),
    )
