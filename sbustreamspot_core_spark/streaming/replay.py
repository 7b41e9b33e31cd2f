"""Micro-batch streaming replay of the StreamSpot pipeline.

Maps the reference's per-edge streaming loop (main.cpp:322-431) onto Spark's
execution model:

- the edge stream is replayed in ``seq``-ordered micro-batches of
  ``cluster_update_interval`` edges (the reference's snapshot cadence,
  param.h:20) — at interval=1 this reproduces the sequential reference
  semantics edge-for-edge (verified against the pure-Python simulator);
- heavy work (``sketch_table`` over the window's edges of the *touched*
  graphs) is distributed DataFrame work per batch: ``assign_replay_seq``'s
  global ``row_number`` leaves the cached edges in one partition, and
  ``sketch_table``'s one shuffle spreads each batch's graphs over ``gid``
  hash partitions;
- the tiny cluster state (O(#clusters x L) centroid projections + per-graph
  assignment map) is a driver-side numpy state machine applying the
  reference's incremental update equations (cluster.cpp:103-298) in ``seq``
  order — honest Spark design: big data on executors, control state on the
  driver;
- the count-based edge window (--max-num-edges, main.cpp:315-319,355-361) is
  a stateless ``seq`` range filter per batch (W2 in SURVEY.md).

Documented deviation: after a window eviction the reference's incremental
sketch keeps the evicted edges' chunk contributions (its delta path only ever
*adds* incoming chunks, graph.cpp:399-419); we recompute the touched graph's
sketch from the live window instead — the windowed recompute is the
semantically-consistent batch formulation, and it equals the reference
whenever no eviction has touched the graph (the invariant the reference
asserts in DEBUG builds, graph.cpp:346-363).

One step: ``MicroBatchReplay.apply_batch`` is the whole per-batch body
(touched-graph sketch recompute, driver-side cluster updates in seq order,
checkpoint).  ``run`` slices a pre-seq'd edge table into batches and calls it
once per batch.

Checkpointing: each batch writes a snapshot parquet (scores + assignments,
mirroring main.cpp:394-398) plus a driver-state npz and a _COMPLETE marker;
resume restarts after the last complete batch.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import ANOMALY, PI, UNSEEN, StreamSpotParams
from ..operators.sketch import sketch_table
from ..session import local_table
from ..sources.bootstrap import BootstrapClusters


def assign_replay_seq(test_edges: DataFrame) -> DataFrame:
    """Deterministic interleaved replay order (W4).

    Round-robin across graphs: global seq orders by (per-gid offset, gid).
    The reference interleaves with a seeded PRNG over groups of ``par``
    graphs (main.cpp:201-219,336-343) — implementation-defined shuffle
    internals make that order non-portable, so we fix an equally-valid
    deterministic interleave over all test graphs (DEVIATIONS 3).

    Scale note: the global row_number is a single-partition sort — fine for
    fidelity replay; at 10^12-edge scale batch boundaries come from the
    event-time column (warc_ts range slicing) instead.
    """
    per_gid = Window.partitionBy("gid").orderBy("seq")
    global_w = Window.orderBy("offset", "gid")
    return (
        test_edges.withColumn("offset", F.row_number().over(per_gid) - 1)
        .withColumn("replay_seq", (F.row_number().over(global_w) - 1).cast("long"))
        .drop("offset")
    )


class MicroBatchReplay:
    """Drives the micro-batch loop; see module docstring."""

    def __init__(self, spark: SparkSession, params: StreamSpotParams,
                 bootstrap: BootstrapClusters, train_edges: DataFrame,
                 checkpoint_dir: str | None = None):
        self.spark = spark
        self.p = params
        self.bootstrap = bootstrap
        self.checkpoint_dir = checkpoint_dir
        self._init_state(train_edges)

    # ------------------------------------------------------------ bootstrap
    def _init_state(self, train_edges: DataFrame) -> None:
        p, boot = self.p, self.bootstrap
        rows = sketch_table(train_edges, p).collect()
        self.projections: dict[int, np.ndarray] = {
            r.gid: np.array(r.projection, dtype=np.float64) for r in rows}
        nclusters = len(boot.clusters)
        self.centroids = np.zeros((nclusters, p.L))
        self.cluster_sizes = np.array([len(c) for c in boot.clusters], dtype=np.int64)
        for c, members in enumerate(boot.clusters):
            self.centroids[c] = np.mean(
                [self.projections[g] for g in members], axis=0)
        self.cluster_map: dict[int, int] = dict(boot.cluster_map)
        self.anomaly_scores: dict[int, float] = {}
        for gid in sorted(self.projections):
            c = self.cluster_map[gid]
            self.anomaly_scores[gid] = self._distance(
                self.projections[gid] >= 0, self.centroids[c] >= 0)

    @staticmethod
    def _distance(bits_a: np.ndarray, bits_b: np.ndarray) -> float:
        sim = 1.0 - np.count_nonzero(bits_a != bits_b) / float(len(bits_a))
        return 1.0 - np.cos(PI * (1.0 - sim))

    # ------------------------------------------------------------ state io
    def _batch_dir(self, k: int) -> str:
        return os.path.join(self.checkpoint_dir, f"batch={k}")

    def last_complete_batch(self) -> int | None:
        """The highest batch id with a ``_COMPLETE`` marker, or None."""
        if not self.checkpoint_dir or not os.path.isdir(self.checkpoint_dir):
            return None
        return max((
            int(name.split("=", 1)[1]) for name in os.listdir(self.checkpoint_dir)
            if name.startswith("batch=") and os.path.exists(
                os.path.join(self.checkpoint_dir, name, "_COMPLETE"))),
            default=None)

    def _resume(self) -> int:
        """Load the last complete batch's state; returns the next batch id."""
        last = self.last_complete_batch()
        if last is None:
            return 0
        self._load_state(last)
        return last + 1

    def state_table(self) -> DataFrame:
        """(gid, cluster_id, anomaly_score) of every graph seen so far."""
        return local_table(
            self.spark,
            [(int(g), int(self.cluster_map.get(g, UNSEEN)),
              float(self.anomaly_scores.get(g, float(UNSEEN))))
             for g in sorted(self.projections)],
            "gid long, cluster_id int, anomaly_score double")

    def _save_state(self, k: int, snapshot: DataFrame, n_edges: int) -> None:
        d = self._batch_dir(k)
        snapshot.write.mode("overwrite").parquet(os.path.join(d, "snapshot"))
        gids = sorted(self.projections)
        np.savez(
            os.path.join(d, "state.npz"),
            gids=np.array(gids, dtype=np.int64),
            projections=np.array([self.projections[g] for g in gids]),
            centroids=self.centroids,
            cluster_sizes=self.cluster_sizes,
            cmap_keys=np.array(sorted(self.cluster_map), dtype=np.int64),
            cmap_vals=np.array([self.cluster_map[g]
                                for g in sorted(self.cluster_map)], dtype=np.int64),
            score_keys=np.array(sorted(self.anomaly_scores), dtype=np.int64),
            score_vals=np.array([self.anomaly_scores[g]
                                 for g in sorted(self.anomaly_scores)]),
        )
        with open(os.path.join(d, "lineage.json"), "w") as f:
            json.dump({"batch": k, "edges": n_edges,
                       "clusters": self.cluster_sizes.tolist()}, f)
        with open(os.path.join(d, "_COMPLETE"), "w") as f:
            f.write("")

    def _load_state(self, k: int) -> None:
        z = np.load(os.path.join(self._batch_dir(k), "state.npz"))
        self.projections = {
            int(g): z["projections"][i] for i, g in enumerate(z["gids"])}
        self.centroids = z["centroids"]
        self.cluster_sizes = z["cluster_sizes"]
        self.cluster_map = {int(g): int(v)
                            for g, v in zip(z["cmap_keys"], z["cmap_vals"])}
        self.anomaly_scores = {int(g): float(v)
                               for g, v in zip(z["score_keys"], z["score_vals"])}

    # ------------------------------------------------------------ replay
    def run(self, test_edges_with_seq: DataFrame, resume: bool = True) -> dict:
        """test_edges_with_seq: EDGE_SCHEMA + replay_seq.  Returns final
        state dict (cluster_map, anomaly_scores, batches)."""
        p = self.p
        edges = test_edges_with_seq.cache()
        n_test = edges.count()
        interval = p.cluster_update_interval
        n_batches = max(1, -(-n_test // interval))

        start = self._resume() if resume else 0
        for k in range(start, n_batches):
            lo, hi = k * interval, (k + 1) * interval
            batch = edges.filter(
                (F.col("replay_seq") >= lo) & (F.col("replay_seq") < hi))
            # active window: last max_num_edges edges up to the batch end
            win_lo = hi - p.max_num_edges if p.max_num_edges else 0
            active = edges.filter(
                (F.col("replay_seq") < hi) & (F.col("replay_seq") >= win_lo))
            evicted_gids = frozenset()
            if p.max_num_edges:
                prev_lo = max(0, lo - p.max_num_edges) if k > 0 else 0
                evicted = edges.filter(
                    (F.col("replay_seq") >= prev_lo) & (F.col("replay_seq") < win_lo))
                evicted_gids = frozenset(
                    r.gid for r in evicted.select("gid").distinct().collect())
            self.apply_batch(k, batch, active, evicted_gids)

        edges.unpersist()
        return {
            "cluster_map": dict(self.cluster_map),
            "anomaly_scores": dict(self.anomaly_scores),
            "batches": n_batches,
        }

    def _projections(self, edges: DataFrame, gids: list[int]) -> dict:
        """Projections of ``gids`` over ``edges``; zeros for a graph with no
        edges there (fully evicted)."""
        rows = sketch_table(edges.filter(F.col("gid").isin(gids)),
                            self.p).collect()
        got = {r.gid: np.array(r.projection, dtype=np.float64) for r in rows}
        return {g: got.get(g, np.zeros(self.p.L)) for g in gids}

    def apply_batch(self, k: int, batch: DataFrame, window: DataFrame,
                    evicted_gids: frozenset = frozenset()) -> None:
        """The one micro-batch step.  ``batch``: this batch's edges (EDGE_SCHEMA
        + replay_seq); ``window``: every live edge up to the batch end;
        ``evicted_gids``: graphs that lost edges to the window since the
        previous batch.  Writes the ``batch=<k>`` checkpoint if enabled."""
        rows = batch.select("gid", "replay_seq").collect()
        last_seq: dict[int, int] = {}
        for r in rows:
            last_seq[r.gid] = max(r.replay_seq, last_seq.get(r.gid, -1))
        new_gids = set(last_seq)

        # distributed: recompute sketches of touched graphs from the window
        new_proj = self._projections(window, sorted(new_gids | evicted_gids))

        # gids both evicted-from and appended-to this batch: refresh their
        # pre-batch baseline to the post-eviction state, so the update
        # delta covers only the appended edges (matches the sequential
        # semantics where eviction precedes the append, main.cpp:355-365)
        both = sorted(evicted_gids & new_gids)
        if both:
            lo = min(r.replay_seq for r in rows)
            self.projections.update(self._projections(
                window.filter(F.col("replay_seq") < lo), both))

        # driver state machine, seq order: eviction-only gids get their
        # projection refreshed without a cluster update (see deviation
        # note); gids with new edges run the reference update equations
        for g in sorted(evicted_gids - new_gids):
            self.projections[g] = new_proj[g]
        for g in sorted(new_gids, key=last_seq.__getitem__):
            delta = new_proj[g] - self.projections.get(g, np.zeros(self.p.L))
            self.projections[g] = new_proj[g]
            self._update_clusters(int(g), delta)

        if self.checkpoint_dir:
            self._save_state(k, self.state_table(), len(rows))

    # ---------------------------------------------------- cluster updates
    def _update_clusters(self, gid: int, delta: np.ndarray) -> None:
        """cluster.cpp:103-298 equations over driver numpy state."""
        boot = self.bootstrap
        bits_g = self.projections[gid] >= 0
        dists = np.array([
            self._distance(bits_g, self.centroids[c] >= 0)
            for c in range(len(self.cluster_sizes))])
        nearest = int(dists.argmin())
        min_d = float(dists[nearest])
        self.anomaly_scores[gid] = min_d
        current = self.cluster_map.get(gid, UNSEEN)
        proj = self.projections[gid]

        def remove_from(c: int) -> None:
            old_size = int(self.cluster_sizes[c])
            self.cluster_sizes[c] -= 1
            self.centroids[c] = (
                self.centroids[c] * old_size - (proj - delta)) / (old_size - 1)

        if min_d > min(boot.global_threshold, boot.thresholds[nearest]):
            self.cluster_map[gid] = ANOMALY
            if current not in (UNSEEN, ANOMALY):
                remove_from(current)
                if current == nearest:
                    self.anomaly_scores[gid] = self._distance(
                        bits_g, self.centroids[current] >= 0)
        elif current != nearest:
            self.cluster_map[gid] = nearest
            if current not in (UNSEEN, ANOMALY):
                remove_from(current)
            old_size = int(self.cluster_sizes[nearest])
            self.cluster_sizes[nearest] += 1
            self.centroids[nearest] = (
                self.centroids[nearest] * old_size + proj) / (old_size + 1)
            self.anomaly_scores[gid] = self._distance(
                bits_g, self.centroids[nearest] >= 0)
        else:
            self.centroids[current] += delta / int(self.cluster_sizes[current])
            self.anomaly_scores[gid] = self._distance(
                bits_g, self.centroids[current] >= 0)
