"""N -> 4N throughput scaling efficiency on the CPUs this process owns.

    python tools/scaling.py

N is a quarter of the process's CPU affinity mask (below 4 CPUs the tool
refuses before any JVM starts). Each leg is one ``spark-submit --master
local[k] --py-files <zip>`` pinned by ``taskset`` to the mask's first k
CPUs. All legs read one generated input at one partition count and
interleave 4N / N for ``ROUNDS`` rounds; T is a family's minimum steady
time over rounds, its efficiency (T_N / T_4N) / 4. Families: ``pagerank``
(``jobs/run_pagerank.py --tol 0``, superstep ``step_sec``), ``sketch``
(adjacency -> shingles -> chunk counts -> ``build_sketches``) and ``hash``
(``hashmulti_batch`` over cached chunks, no shuffle). Sizes are per-CPU
constants times 4N, fixed before any efficiency was seen so that a 1-CPU
PageRank superstep takes at least 10 s on a 4-vCPU host. Prints one JSON
line per leg, then the host shape and the efficiencies. spark-submit runs
this file as the leg script too, with arguments from the parent run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from functools import partial
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ROUNDS = 3
SUPERSTEPS = 5             # run_pagerank.py reports the last 3: the steady ones
PASSES = 3                 # sketch/hash passes per leg; the first warms up
EDGES_PER_CPU = 4_000_000  # PageRank graph, times 4N
EVENTS_PER_CPU = 250_000   # StreamSpot-format edges, times 4N
EVENTS_PER_GRAPH = 2_000
PARTITIONS_PER_CPU = 4     # input and shuffle partitions, times 4N
CHUNK_LENGTH = 8


def leg_cpus(mask) -> tuple[list[int], list[int]]:
    """The first N and the first 4N CPUs of an affinity mask."""
    cpus = sorted(mask)
    n = len(cpus) // 4
    if n == 0:
        raise SystemExit(f"needs at least 4 CPUs; this process has {cpus}")
    return cpus[:n], cpus[:4 * n]


def efficiency(records) -> dict:
    """family -> (T_N / T_4N) / 4, T the minimum ``sec`` over its legs."""
    best = {}
    for r in records:
        key = r["family"], r["cpus"]
        best[key] = min(r["sec"], best.get(key, r["sec"]))
    return {f: round(best[f, n] / best[f, 4 * n] / 4, 3)
            for f, n in best if (f, 4 * n) in best}


def _submit(cpus, parts, data, script, *args) -> dict:
    """Run one pinned leg from ``data``, off the zip; its last JSON line."""
    from sbustreamspot_core_spark.session import default_driver_memory
    cmd = ["taskset", "-c", ",".join(map(str, cpus)), "spark-submit",
           "--master", f"local[{len(cpus)}]",
           # a 1 GB heap would turn auto-broadcast off in get_spark
           "--driver-memory", default_driver_memory(),
           "--conf", f"spark.sql.shuffle.partitions={parts}",
           "--conf", f"spark.default.parallelism={parts}",
           "--py-files", str(REPO / "sbustreamspot_core_spark.zip"),
           str(script), *map(str, args)]
    out = subprocess.run(cmd, cwd=data, capture_output=True, text=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode or not lines:
        raise SystemExit(f"leg failed: {' '.join(cmd)}\n{out.stderr[-3000:]}")
    return json.loads(lines[-1])


def main() -> None:
    small, big = leg_cpus(os.sched_getaffinity(0))
    n4, parts = len(big), PARTITIONS_PER_CPU * len(big)
    sys.path.insert(0, str(REPO))
    subprocess.run(["sh", str(REPO / "tools" / "make_pyfiles_zip.sh")],
                   check=True, capture_output=True)
    load, records = [[round(x, 2) for x in os.getloadavg()]], []
    data = tempfile.mkdtemp(prefix="scaling-")
    legs = {"pagerank": (REPO / "jobs" / "run_pagerank.py", "--edges",
                         f"{data}/graph", "--max-iters", SUPERSTEPS,
                         "--tol", 0, "--partitions", parts),
            **{f: (__file__, f, data, n4) for f in ("sketch", "hash")}}
    try:
        _submit(big, parts, data, __file__, "generate", data, n4)
        for rnd in range(ROUNDS):
            for family, cpus in [(f, c) for f in legs for c in (big, small)]:
                res = _submit(cpus, parts, data, *legs[family])
                times = res.get("times") or [m["step_sec"]
                                             for m in res["metrics"]]
                records.append({"family": family, "cpus": len(cpus),
                                "round": rnd, "sec": min(times), "times": times})
                print(json.dumps(records[-1]), flush=True)
    finally:
        shutil.rmtree(data, ignore_errors=True)
    load.append([round(x, 2) for x in os.getloadavg()])
    mem_kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
    print(json.dumps({
        "host": {"cpus": len(os.sched_getaffinity(0)),
                 "mem_total_kb": mem_kb, "loadavg_start_end": load},
        "n": len(small), "4n": n4, "rounds": ROUNDS, "partitions": parts,
        "pagerank_edges": EDGES_PER_CPU * n4, "supersteps": SUPERSTEPS,
        "events": EVENTS_PER_CPU * n4, "events_per_graph": EVENTS_PER_GRAPH,
        "efficiency": efficiency(records)}))


# ---- legs: run under spark-submit, pinned by the parent ----------------

def _generate(spark, data, n4, parts):
    from pyspark.sql import functions as F
    nodes = EDGES_PER_CPU * n4 // 10
    hub = F.pmod(F.xxhash64(F.col("id") + 1), 16) == 0   # 1/16 to vertex 0
    spark.range(0, EDGES_PER_CPU * n4, 1, parts).select(
        F.pmod(F.xxhash64("id"), nodes).alias("src"),
        F.when(hub, 0).otherwise(
            F.pmod(F.xxhash64(F.col("id") * 31 + 7), nodes)).alias("dst"),
    ).filter("src != dst").write.parquet(f"{data}/graph")
    graphs = EVENTS_PER_CPU * n4 // EVENTS_PER_GRAPH
    letter = lambda c: F.chr(F.lit(97) + F.pmod(F.xxhash64(c), 20))
    spark.range(0, EVENTS_PER_CPU * n4, 1, parts).select(
        (F.col("id") % graphs).alias("gid"),
        (F.col("id") / graphs).cast("long").alias("seq"),
        F.pmod(F.xxhash64("id"), 1000).alias("src_id"),
        F.pmod(F.xxhash64(F.col("id") * 13 + 5), 1000).alias("dst_id"),
        letter(F.col("id") * 7).alias("e_type"),
    ).withColumns({"src_type": letter("src_id"), "dst_type": letter("dst_id")}
                  ).write.parquet(f"{data}/events")


def _hash_kernel(batches, H):
    import pandas as pd
    from sbustreamspot_core_spark.functions.hashing import hashmulti_batch
    for pdf in batches:
        bits = hashmulti_batch(pdf["chunk"].tolist(), H)
        yield pd.DataFrame({"s": [int(bits.sum())]})


def leg(name: str, data: str, n4: int) -> None:
    from pyspark.sql import functions as F
    from sbustreamspot_core_spark.config import StreamSpotParams
    from sbustreamspot_core_spark.operators.shingles import (
        build_adjacency, build_chunk_counts, build_shingles)
    from sbustreamspot_core_spark.operators.sketch import build_sketches
    from sbustreamspot_core_spark.rng import allocate_random_bits
    from sbustreamspot_core_spark.session import get_spark
    spark = get_spark(f"scaling-{name}")
    parts = spark.sparkContext.defaultParallelism
    if name == "generate":
        _generate(spark, data, n4, parts)
        return print(json.dumps({"generated": data}))
    params = StreamSpotParams(chunk_length=CHUNK_LENGTH)
    events = spark.read.parquet(f"{data}/events").cache()
    events.count()
    cc = build_chunk_counts(build_shingles(build_adjacency(events)),
                            CHUNK_LENGTH)
    if name == "sketch":
        run = lambda: build_sketches(cc, params).count()
    else:
        cached = cc.select("chunk").repartition(parts).cache()
        cached.count()
        kernel = partial(_hash_kernel, H=allocate_random_bits(
            params.L, CHUNK_LENGTH, params.seed))
        run = lambda: cached.mapInPandas(kernel, "s long").agg(
            F.sum("s")).collect()
    times = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        run()
        times.append(round(time.perf_counter() - t0, 3))
    print(json.dumps({"times": times[1:]}))


if __name__ == "__main__":
    if len(sys.argv) > 1:
        leg(sys.argv[1], sys.argv[2], int(sys.argv[3]))
    else:
        main()
