"""PageRank as an iterative DataFrame job (north rule G4).

Semantics (matched by ``oracles.graph_oracle.pagerank_oracle`` to 1e-6):
power iteration with damping ``d`` and dangling-mass redistribution:

    r'(v) = (1-d)/N + d * (sum_{u->v} r(u)/outdeg(u) + dangling/N)

Scale design (100 TB / 10^12-edge mindset, tested at local scale):
- Adjacency is built ONCE into CSR-style blocks: (src, deg, targets[]) rows,
  with heavy out-degree vertices split into blocks of ``CSR_BLOCK_SIZE``
  targets (out-degree skew cap: one mega-hub's fan-out is spread over many
  rows/partitions instead of one giant task).
- Per superstep there is exactly ONE shuffle: explode contributions and
  groupBy(dst).  The rank join against the adjacency reuses the hash
  partitioning of both sides (both are hash-partitioned on the vertex key
  with the same partition count), and the contribution aggregation is a
  partial+final hash agg, so in-degree skew (mega-hub *inbound* links) is
  absorbed by map-side combine before the shuffle.
- Dangling mass and the convergence delta are aggregates of the SAME single
  metrics action per superstep (one driver barrier, run by the
  SuperstepDriver); superstep k+1 reads its dangling sum from superstep k's
  metrics.  A fresh run's first superstep takes it from init's one action,
  which counts the vertices and the dangling ones together (every starting
  rank is 1/N); a resumed run's from the checkpoint's recorded metrics.
- Init's action runs under ``iterative_conf`` like the supersteps, so a
  fresh run is 2 + k + c Spark jobs: the heavy-hub broadcast, the init
  action, k supersteps and c checkpoint writes.
- Every superstep's plan has the size of the first: state and adjacency
  are partition-keeping ``local_leaf`` scans (graph/superstep.py); the
  SuperstepDriver's parquet checkpoints are write-only resume points.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import GraphParams
from ..session import local_table
from .superstep import SuperstepDriver, iterative_conf, local_leaf, release

# max out-edges per adjacency block row (the out-degree skew cap)
CSR_BLOCK_SIZE = 4096


@dataclass
class PageRankResult:
    ranks: DataFrame            # (id long, rank double)
    supersteps: int
    converged: bool
    metrics: list[dict]


def prepared_edges(edges: DataFrame, params: GraphParams) -> DataFrame:
    """The deduped edge table hash-partitioned on ``src`` — the ONE full
    exchange all of init derives from (round 7, guide §2.4): hash
    partitioning on src satisfies the clustering every downstream init
    aggregation needs (distinct on (src,dst), out-degrees on src, block
    aggregation on (src, blk)), so ordering the repartition FIRST lets
    Catalyst elide their exchanges and leaves the adjacency already
    co-partitioned for the superstep joins.  The former shape deduped and
    degree-counted twice (adjacency and initial ranks each), costing four
    full-width exchanges plus a final repartition."""
    return (edges.select("src", "dst")
            .repartition(params.num_partitions, "src").distinct())


def build_links(e: DataFrame) -> DataFrame:
    """CSR-blocked adjacency of the ``prepared_edges`` table ``e``:
    (src, deg, targets array<long>) with ~``CSR_BLOCK_SIZE`` targets per
    block; ``deg`` is the full out-degree.

    Blocking happens BEFORE the list aggregation: heavy sources (out-degree >
    block size — a tiny, broadcastable set even on power-law web graphs) get a
    block id hashed from the target, so no single aggregation buffer ever
    holds more than ~one block of targets and a 10^8-out-degree mega-hub is
    spread across many groups/partitions instead of one giant task buffer.
    Light sources skip the join entirely (one block, deg = size(targets)).
    Everything here is exchange-free, so the output stays partitioned by
    src.
    """
    bs = CSR_BLOCK_SIZE
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    heavy = deg.filter(F.col("deg") > bs)          # O(#hubs) rows: broadcast
    e2 = e.join(F.broadcast(heavy), "src", "left")
    nblk = F.coalesce(F.ceil(F.col("deg") / bs).cast("int"), F.lit(1))
    blocked = (
        e2.withColumn("blk", F.pmod(F.xxhash64("dst"), nblk))
        .groupBy("src", "blk")
        .agg(F.collect_list("dst").alias("targets"),
             F.first("deg").alias("heavy_deg"))
    )
    return blocked.select(
        "src",
        F.coalesce("heavy_deg", F.size("targets").cast("long")).alias("deg"),
        "targets")


def pagerank(spark: SparkSession, edges: DataFrame,
             params: GraphParams = GraphParams(),
             checkpoint_dir: str | None = None,
             resume: bool = True,
             lineage_table: str | None = None) -> PageRankResult:
    """edges: (src long, dst long).  Returns per-vertex ranks summing to 1
    (no ranks and 0 supersteps when there are no edges).

    Round-7 init: raw ``edges`` is scanned ONCE (one repartition exchange,
    then the dedup/degree/block aggregations all ride that partitioning —
    see ``prepared_edges``); the vertex set and out-degrees are then derived
    from the adjacency leaf (src + exploded targets) instead of
    re-scanning the edge table, which removes init's other two full-width
    scans/exchanges.  Still pass a cached DataFrame when ``edges`` is an
    expensive derived plan (e.g. the href-extraction pipeline) — the one
    init scan plus any superstep resume re-executes it otherwise."""
    # a leaf, so the heavy-hub broadcast build inside build_links reads the
    # same materialized table instead of re-running the repartition+distinct
    # chain (the executed init plan otherwise carries two copies of it)
    e = local_leaf(prepared_edges(edges, params), params.num_partitions)
    links = local_leaf(build_links(e), params.num_partitions)
    nodes = (
        links.select(F.col("src").alias("id"))
        .unionByName(links.select(F.explode("targets").alias("id")))
        .repartition(params.num_partitions, "id")
        .distinct()
    )
    # every block row of a heavy src carries the full out-degree, light
    # srcs have one block: first() per src is the exact out-degree, and the
    # groupBy rides the adjacency's src partitioning (no exchange)
    degs = links.groupBy(F.col("src").alias("id")).agg(
        F.first("deg").alias("deg"))
    with_deg = nodes.join(degs.hint("shuffle_hash"), "id", "left")
    # one action, also fills the links leaf: the vertices, and the dangling
    # ones (no out-degree), whose mass seeds a fresh run's first superstep
    with iterative_conf(spark, params.num_partitions):
        n, n_dangling = with_deg.agg(
            F.count("*"), F.count_if(F.col("deg").isNull())).first()
    release(e)
    if n == 0:                  # no vertices: nothing to rank, no 1/N
        release(links)
        return PageRankResult(
            local_table(spark, [], "id long, rank double"), 0, True, [])
    # state schema: (id, rank, deg); deg = out-degree (0 => dangling)
    ranks0 = with_deg.select("id", F.lit(1.0 / n).alias("rank"),
                             F.coalesce("deg", F.lit(0)).alias("deg"))
    d = params.damping
    targets_only = links.select("src", "targets")  # deg already in state

    def step(state: DataFrame, k: int, prev: dict | None):
        # the previous superstep's dangling sum; on a resumed run the
        # checkpoint's, so prev is None only on a fresh run's first step
        dangling = n_dangling / n if prev is None else prev["dangling"]
        # shuffle_hash hints: both joins are co-partitioned on the vertex
        # key, so a hash join per partition needs no exchange and no sort
        contribs = (
            state.filter("deg > 0")
            .join(targets_only.hint("shuffle_hash"),
                  state["id"] == targets_only["src"])
            .select(F.explode("targets").alias("id"),
                    (F.col("rank") / F.col("deg")).alias("w"))
            .groupBy("id")
            .agg(F.sum("w").alias("contrib"))
        )
        # prev_rank stays in the state: the delta metric reads it
        new_state = (
            state.join(contribs.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                (F.lit((1.0 - d) / n)
                 + d * (F.coalesce("contrib", F.lit(0.0)) + F.lit(dangling / n))
                 ).alias("rank"),
                "deg",
                F.col("rank").alias("prev_rank"),
            )
        )
        delta = F.max(F.abs(F.col("rank") - F.col("prev_rank")))
        return new_state, {
            "delta": delta,
            "total_rank": F.sum("rank"),
            "dangling": F.sum(F.when(F.col("deg") == 0, F.col("rank"))
                              .otherwise(F.lit(0.0))),
            "converged": delta < params.tol,
        }

    driver = SuperstepDriver(spark, params, checkpoint_dir,
                             lineage_table=lineage_table)
    result = driver.run(ranks0, step, params.max_iters, resume)
    release(links)
    return PageRankResult(
        result.state.select("id", "rank"),
        result.supersteps, result.converged, result.metrics)
