"""Bootstrap-cluster file source.

Reference: io.cpp:134-164 — line 1 is ``nclusters global_threshold``; each
following line is ``threshold gid gid ...``.  This is broadcast-sized control
data, so we parse on the driver and expose both plain Python structures and a
small DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..session import local_table


@dataclass(frozen=True)
class BootstrapClusters:
    clusters: list[list[int]]           # cluster_id -> member gids
    thresholds: list[float]             # per-cluster anomaly threshold
    global_threshold: float

    @property
    def train_gids(self) -> set[int]:
        return {g for members in self.clusters for g in members}

    @property
    def cluster_map(self) -> dict[int, int]:
        return {g: c for c, members in enumerate(self.clusters) for g in members}

    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (c, float(self.thresholds[c]), int(g))
            for c, members in enumerate(self.clusters)
            for g in members
        ]
        return local_table(spark, rows, "cluster_id int, threshold double, gid long")


def read_bootstrap_clusters(path: str) -> BootstrapClusters:
    with open(path) as f:
        first = f.readline().split()
        nclusters, global_threshold = int(first[0]), float(first[1])
        clusters, thresholds = [], []
        for _ in range(nclusters):
            parts = f.readline().split()
            thresholds.append(float(parts[0]))
            clusters.append([int(g) for g in parts[1:]])
    return BootstrapClusters(clusters, thresholds, global_threshold)
