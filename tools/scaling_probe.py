"""Single-process scaling probe: PageRank supersteps at a given core count.
Usage: python tools/scaling_probe.py <cpus> <n_edges> [supersteps] [partitions] [input_parquet]

``input_parquet`` (optional): read the edge table from parquet instead of
generating it — ``tools/gen_scaling_graph.py`` writes it once, so every
core-count leg consumes the IDENTICAL input bytes and no leg pays the
generator's distinct shuffle (which on the pinned 2-core leg dwarfs the
measurement itself).

``partitions`` (default: cpus) sizes BOTH the shuffle and the iterative
state partitioning; for cross-core-count comparisons pass the SAME
data-sized value to every configuration (on a real cluster the partition
count follows data volume, not executor count — identical tasks, different
concurrency).  The generated edges are de-duplicated BEFORE the cached
graph is materialized (outside the timed region); pagerank's own
defensive distinct() then runs once in its init, before the supersteps
the steady-state figure is taken from.

Prints one JSON line with steady-state superstep time and edges/sec.
"""

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from sbustreamspot_core_spark.config import GraphParams
from sbustreamspot_core_spark.graph.pagerank import pagerank
from sbustreamspot_core_spark.session import get_spark


def main():
    cpus = int(sys.argv[1])
    n_edges = int(sys.argv[2])
    supersteps = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    partitions = int(sys.argv[4]) if len(sys.argv) > 4 else cpus
    input_parquet = sys.argv[5] if len(sys.argv) > 5 else None
    n_nodes = max(n_edges // 10, 1000)
    spark = get_spark(f"scale{cpus}", cpus=cpus, shuffle_partitions=partitions)
    if input_parquet:
        graph = (spark.read.parquet(input_parquet)
                 .repartition(partitions).cache())
    else:
        r = spark.range(0, n_edges, 1, max(cpus, partitions))
        src = F.pmod(F.xxhash64(F.col("id")), n_nodes)
        dst = (F.when(F.pmod(F.xxhash64(F.col("id") + 1), 16)== 0, F.lit(0))
               .otherwise(F.pmod(F.xxhash64(F.col("id") * 31 + 7), n_nodes)))
        graph = (r.select(src.alias("src"), dst.alias("dst"))
                 .filter("src != dst").distinct().cache())
    real_edges = graph.count()
    t0 = time.time()
    res = pagerank(spark, graph, GraphParams(
        num_partitions=partitions, max_iters=supersteps, tol=0.0,
        checkpoint_interval=4))
    res.ranks.count()
    total = time.time() - t0
    steps = [m["step_sec"] for m in res.metrics]
    tail = sorted(steps[1:])
    steady_mean = tail[len(tail) // 2]  # median of post-warmup steps
    print(json.dumps({
        "cpus": cpus, "partitions": partitions,
        "edges": real_edges, "supersteps": supersteps,
        "total_sec": round(total, 2),
        "steady_step_sec": round(steady_mean, 3),
        "edges_per_sec_total": round(real_edges * supersteps / total, 1),
        "edges_per_sec_steady": round(real_edges / steady_mean, 1),
        "steps": steps,
    }))


if __name__ == "__main__":
    main()
