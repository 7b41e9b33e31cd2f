"""Triangle counting via degree-ordered orientation (north rule G6).

Each undirected edge is oriented from the lower-(degree, id) endpoint to the
higher one; every triangle then has exactly one oriented wedge, so closing
tests count each triangle exactly once.

Round-7 physical shape (guide §1.2 step 1, §2.3/§2.4 — measured in
OPTIMIZATION_r07.md): the engine builds the oriented out-neighbor SET per
vertex in one aggregation and intersects the two endpoint sets per edge,
instead of materializing every 2-path (sum deg+^2 rows) and shuffling it
into a closure semi-join.  Orientation bounds each out-set by O(sqrt E) on
any graph (the classic heavy-hitter argument), so the arrays stay small
under power-law skew and the join volume is O(E) rows.

The degree used for ordering is computed over the RAW edge multiset (no
distinct): any total order on vertices keeps the count exact — orientation
only decides WHERE each triangle is found — and duplicate edges perturb
degrees roughly uniformly, preserving the sqrt(E) fan-out bound while
skipping a full dedup shuffle.  Edge dedup itself happens inside the
adjacency aggregation (collect_set), not as a separate exchange.

``triangle_count``'s one ``collect`` is planned statically under
``graph/superstep.py:iterative_conf`` (AQE and auto-broadcast off, shuffles
at ``num_partitions``): one Spark job, where AQE ran each of its query
stages as a job of its own.  ``triangle_count_per_vertex`` returns a lazy
DataFrame and is planned by whatever conf its caller's action runs under.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import GraphParams
from .superstep import iterative_conf


def _edge_common_out_neighbors(edges: DataFrame) -> DataFrame:
    """(u, v, w: array<long>) — for each distinct oriented edge, the common
    out-neighbors of its endpoints: w = N+(u) & N+(v).

    Every triangle has exactly one orientation a->b, a->c, b->c, and it is
    found exactly once: at edge (u=a, v=b) with c in the intersection
    (edge (a,c) sees no common target since c's out-set misses b, and edge
    (b,c) would need b->w AND c->w).

    Exchanges: one skinny degree aggregation (map-side combined), joined
    onto the edge stream (under ``triangle_count``'s static plan by two
    shuffle joins, which re-key the edge stream by u and then by v), ONE
    exchange of the oriented multiset building the deduped adjacency sets,
    and one exchange re-keying the edge stream for the second adjacency
    probe.  The edge side is re-derived by exploding the adjacency —
    distinct by construction and co-partitioned with the first probe, so
    neither a standalone edge-dedup exchange nor an adjacency cache is
    needed; the identical adjacency subtrees share one exchange
    (ReusedExchange, same pattern as banded_self_join_pairs)."""
    und = (
        edges.select(F.least("src", "dst").alias("u"),
                     F.greatest("src", "dst").alias("v"))
        .filter("u != v")
    )
    deg = (
        und.select(F.col("u").alias("id")).unionByName(
            und.select(F.col("v").alias("id")))
        .groupBy("id").agg(F.count("*").alias("deg"))
    )
    d_u = deg.select(F.col("id").alias("u"), F.col("deg").alias("deg_u"))
    d_v = deg.select(F.col("id").alias("v"), F.col("deg").alias("deg_v"))
    # plain equi-joins, no broadcast hint: the degree table is O(V), which
    # an explicit broadcast would not survive at 100 TB.  triangle_count
    # plans them as shuffle joins; a triangle_count_per_vertex caller with
    # AQE on may still get a runtime broadcast of the measured aggregate
    with_deg = und.join(d_u, "u").join(d_v, "v")
    lo_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v")))
    oriented = with_deg.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
    )
    # collect_set dedups duplicate input edges inside the aggregation (no
    # separate dedup exchange), and exploding it back yields the distinct
    # oriented edge list already partitioned by u for the first probe
    adj = oriented.groupBy("lo").agg(F.collect_set("hi").alias("nbrs"))
    e = adj.select(F.col("lo").alias("u"), F.explode("nbrs").alias("v"))
    # the adjacency probes are explicitly shuffle_hash: the build side is
    # the O(V) adjacency-set table, which must never be broadcast (AQE's
    # auto-broadcast of it measured erratic under load — the driver builds
    # a 20 MB hashed relation per probe — and cannot scale to a real
    # vertex set), and the exploded edge side is already co-partitioned
    # with the first probe, so the hash join runs exchange-free there
    return (
        e.join(adj.select(F.col("lo").alias("u"), F.col("nbrs").alias("nu"))
               .hint("shuffle_hash"), "u")
        .join(adj.select(F.col("lo").alias("v"), F.col("nbrs").alias("nv"))
              .hint("shuffle_hash"), "v")
        .select("u", "v", F.array_intersect("nu", "nv").alias("w"))
    )


def triangle_count(spark: SparkSession, edges: DataFrame,
                   params: GraphParams = GraphParams()) -> int:
    """Global triangle count of the simple undirected graph, in one
    statically planned Spark job."""
    with iterative_conf(spark, params.num_partitions):
        n = (_edge_common_out_neighbors(edges)
             .agg(F.coalesce(F.sum(F.size("w")), F.lit(0)).cast("long"))
             .collect()[0][0])
    return int(n)


def triangle_count_per_vertex(spark: SparkSession, edges: DataFrame,
                              params: GraphParams = GraphParams()) -> DataFrame:
    """(id, triangles) — per-vertex triangle participation counts.

    Per closing intersection at edge (u, v) with common targets w: u and v
    each join |w| triangles, and each w joins one — the same multiset the
    old closed-wedge union produced, without materializing wedges."""
    tri = _edge_common_out_neighbors(edges).filter(F.size("w") > 0)
    # one pass over the intersections (not three scans of the join): each
    # edge row explodes into (u, |w|), (v, |w|) and one (w_i, 1) per target
    contribs = tri.select(F.explode(F.concat(
        F.array(F.struct(F.col("u").alias("id"), F.size("w").alias("c")),
                F.struct(F.col("v").alias("id"), F.size("w").alias("c"))),
        F.transform("w", lambda x: F.struct(x.alias("id"),
                                            F.lit(1).alias("c"))),
    )).alias("s")).select("s.id", "s.c")
    return contribs.groupBy("id").agg(
        F.sum("c").cast("long").alias("triangles"))
