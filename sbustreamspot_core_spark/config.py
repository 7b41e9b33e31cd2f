"""Engine configuration.

Parameter names and defaults mirror the reference's compile-time constants
(reference: param.h:13-20) and CLI surface (main.cpp:96-111), but everything
here is runtime-configurable.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class StreamSpotParams:
    """StreamSpot sketch/cluster parameters.

    Reference: param.h:13-20 (K, B, R, L, SEED, CLUSTER_UPDATE_INTERVAL),
    main.cpp:96-111 (chunk_length, max_num_edges CLI args; the reference's
    ``par`` has no counterpart, the replay interleave is fixed, DEVIATIONS 3).
    ``L`` must equal ``B * R`` (param.h:18 comment).  K has no field: the
    shingle is fixed at K=1 (operators/shingles.py), as the reference
    asserts (main.cpp:149).

    Note: the reference's compiled constants are B=100, R=20, L=1000, which
    violates its own L == B*R comment — ``hash_bands`` (cluster.cpp:29-34)
    shifts past the end of ``bitset<1000>`` for bands 50..99, so those bands
    are all-zero for every sketch (degenerate shared buckets).  We enforce
    L == B*R and default to the 50 non-degenerate bands.
    """

    chunk_length: int = 10          # C; README.md quickstart uses C=10
    L: int = 1000                   # sketch bits
    B: int = 50                     # LSH bands (see note above)
    R: int = 20                     # bits per band
    seed: int = 23                  # SEED for the hash family PRNG
    cluster_update_interval: int = 10000  # snapshot cadence (edges per micro-batch)
    max_num_edges: int | None = None      # count-based edge window; None = unbounded

    def __post_init__(self) -> None:
        if self.L != self.B * self.R:
            raise ValueError(f"L ({self.L}) must equal B*R ({self.B * self.R})")


@dataclass(frozen=True)
class GraphParams:
    """Link-graph algorithm parameters (north-rule suite)."""

    damping: float = 0.85
    tol: float = 1e-7               # PageRank max|delta| convergence threshold
    max_iters: int = 100
    lpa_max_iters: int = 20
    checkpoint_interval: int = 4    # supersteps between parquet storage
    # checkpoints (the resume points); plan size does not depend on it
    num_partitions: int = 32        # partitions of the iterative state,
    # adjacency and every superstep shuffle
    small_graph_threshold: int = 0  # undirected-edge count at or below which
    # connected_components switches to a single-action driver union-find
    # (identical min-id labels, equality pytest-pinned).  0 = always
    # distributed.  Same philosophy as autoBroadcastJoinThreshold: pick the
    # physical strategy by measured size — the iterative machinery's fixed
    # cost (several actions + checkpoints per superstep) dominates tiny
    # derived graphs like an LSH co-bucket pair graph, which collapses to
    # O(100) edges after bucketing even when the corpus is huge.  Measured
    # crossover ~10^5 edges (union-find ~26 us/edge vs ~6 s fixed for the
    # distributed job — BENCH.md round-5 star section); the 65536 used by
    # the jobs/bench stays an order of magnitude under it


# Dataset presets: scenario = gid / 100 (reference io.cpp:97, main.cpp:128-146)
DATASET_SCENARIOS: dict[str, frozenset[int]] = {
    "all": frozenset({0, 1, 2, 3, 4, 5}),
    "gfc": frozenset({1, 2, 5, 3}),
    "ydc": frozenset({0, 4, 5, 3}),
}

UNSEEN = -2   # cluster.h:19
ANOMALY = -1  # cluster.h:18
PI = 3.1415926535897  # param.h:22, truncated as the reference has it
