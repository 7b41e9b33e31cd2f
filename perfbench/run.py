#!/usr/bin/env python3
"""Seeded benchmark of the engine: one workload per invocation.

    python3 perfbench/run.py --workload graph_suite --seed 1 --seconds 10 --trace 0

Run from the repository root.  The command fits a Spark session to the host
(local[nproc], driver heap from /proc/meminfo, scratch space under
``.perfbench_work/``), generates the workload's inputs from ``--seed``, and
runs the workload as a closed loop until ``--seconds`` have passed (at least
one complete chain).  Every output is checked against the oracles.  The last
line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the Spark event log is switched on, one more chain runs with a span (Spark
job group) around every call into a layer, and the metrics are the
per-layer ones.  The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sbustreamspot_core_spark"
WORKLOAD_NAMES = ("graph_suite", "web_and_streams", "web_hosts",
                  "neardup_incremental", "streamspot_replay")

E2E_METRICS = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "precision": "ratio",
    "recall": "ratio",
}
SETUP_REPS = 3


# ------------------------------------------------------------------ host
def host_shape() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0])
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_kb": mem["MemTotal"],
            "loadavg_start": os.getloadavg(),
            "python": platform.python_version()}


def driver_heap_mb(mem_total_kb: int) -> int:
    """An eighth of physical memory, between 1 and 2 GiB: the machine is
    shared and the inputs are small."""
    return max(1024, min(2048, mem_total_kb // 1024 // 8))


def spark_conf(work: str, host: dict, event_log: str | None) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = driver_heap_mb(host["mem_total_kb"])
    conf = {
        "spark.driver.memory": f"{heap}m",
        # a heap fixed at its maximum keeps the JVM's resident size from
        # depending on when G1 decides to grow it
        "spark.driver.extraJavaOptions": f"-Xms{heap}m -Djava.io.tmpdir={tmp}",
        # set explicitly (to get_spark's default), so the small heap does
        # not switch broadcast joins off
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false"})
    return conf


def prepare_env(work: str) -> None:
    """Scratch space and worker import path, before the JVM starts."""
    import tempfile
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    # session.get_spark takes spark.local.dir from here
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the launcher's too: no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


# ------------------------------------------------------------------ memory
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _cpu_ticks(pid: int) -> int:
    """utime + stime + reaped children's cutime + cstime, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_seconds(pid: int) -> float:
    """CPU time of this process plus ``pid`` (the Spark JVM) and all its
    descendants (the Python workers).  Stolen and waiting time is not
    counted, which keeps it steady on a loaded host."""
    kids, todo, ticks = _children(), [pid], 0
    while todo:
        p = todo.pop()
        ticks += _cpu_ticks(p)
        todo.extend(kids.get(p, ()))
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    between its sharers, so forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed resident memory (PSS) of the Spark JVM and its Python
    workers."""

    def __init__(self, pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.period, self.peak = pid, period, 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        kids, todo, total = _children(), [self.pid], 0
        while todo:
            p = todo.pop()
            total += _pss_bytes(p)
            todo.extend(kids.get(p, ()))
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            self.sample()

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak


def shutdown_jvm() -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()      # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


# ------------------------------------------------------------------ main
def _metric(value, unit) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE} not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    try:
        return _run(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, base: str, work: str) -> int:
    from sbustreamspot_core_spark.session import get_spark
    from tracing import Tracer, SpanStats, find_event_log, read_event_log
    from workloads import LAYER_METRICS, WORKLOADS

    host = host_shape()
    wl = WORKLOADS[args.workload](args.seed, host["nproc"], work)
    sampler = None
    spark = None
    problems: list[str] = []
    attempted = failed = 0
    try:
        # ---- set-up, SETUP_REPS times: session start -> inputs materialized
        setup_s, session_s = [], []
        for i in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            log_dir = os.path.join(work, "eventlog", str(i)) if args.trace else None
            conf = spark_conf(work, host, log_dir)
            t0 = time.perf_counter()
            spark = get_spark("perfbench", cpus=host["nproc"], extra_conf=conf)
            session_s.append(time.perf_counter() - t0)
            if sampler is None:
                from pyspark import SparkContext
                sampler = RssSampler(SparkContext._gateway.proc.pid)
                sampler.start()
            inp = wl.generate()
            frames = wl.materialize(spark, inp)
            setup_s.append(time.perf_counter() - t0)
        _phase("setup", setup_s)
        expected = wl.oracle(spark, inp)
        _phase("oracle")

        # ---- closed loop until --seconds have passed (traced: one chain)
        reps = []
        deadline = time.perf_counter() + args.seconds
        while not args.trace and (not reps or time.perf_counter() < deadline):
            attempted += wl.jobs_per_rep(frames)
            cpu0 = tree_cpu_seconds(sampler.pid)
            try:
                rep = wl.run(spark, frames)
                rep.cpu_s = tree_cpu_seconds(sampler.pid) - cpu0
            except Exception:
                failed += wl.jobs_per_rep(frames)
                problems.append(traceback.format_exc(limit=3))
                break
            chk = wl.check(rep, expected)
            failed += chk.failed
            problems += chk.problems
            reps.append((rep, chk))
        _phase("reps", [r.run_s for r, _ in reps])
        attempted += 1
        extra = wl.verify_once(spark, frames, inp)
        failed += bool(extra)
        problems += extra
        _phase("verify")

        if args.trace:
            tracer = Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
            attempted += wl.jobs_per_rep(frames)
            cpu0 = tree_cpu_seconds(sampler.pid)
            try:
                trep, aux = wl.run_traced(spark, frames, tracer)
                trep.cpu_s = tree_cpu_seconds(sampler.pid) - cpu0
            except Exception:
                failed += wl.jobs_per_rep(frames)
                problems.append(traceback.format_exc(limit=3))
                trep = None
            if trep is not None:
                chk = wl.check(trep, expected)
                failed += chk.failed
                problems += chk.problems
            spark.stop()                     # flushes the event log
            spark = None
        peak_rss = sampler.stop() if sampler else 0
        sampler = None
    finally:
        if sampler is not None:
            sampler.stop()
        shutdown_jvm()
        _phase("shutdown")

    host["loadavg_end"] = os.getloadavg()
    host["driver_heap_mb"] = driver_heap_mb(host["mem_total_kb"])
    host["confs"] = {k: v for k, v in conf.items() if "eventLog" not in k}
    host["pyspark"] = __import__("pyspark").__version__
    host["java"] = _java_version()
    print("host " + json.dumps(host))
    print(f"input_digest {args.workload} seed={args.seed} {_digest(inp)}")
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)

    if args.trace and trep is not None:
        groups = read_event_log(find_event_log(log_dir))
        st = SpanStats(tracer, groups)
        layers = {k: 0.0 for k in LAYER_METRICS}
        layers.update(wl.layer_metrics(trep, aux, frames, st))
        layers["session.get_spark.wall_s"] = statistics.median(session_s)
        layers["trace.run_s"] = trep.run_s
        layers["trace.cpu_s"] = trep.cpu_s
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.write(os.path.join(base, "traces",
                                  f"{args.workload}-seed{args.seed}.json"),
                     layers=layers, host=host,
                     event_log={s.name: st.of(s).totals() for s in tracer.spans})
        metrics = {k: _metric(layers[k], u) for k, u in LAYER_METRICS.items()}
    elif reps:
        batches = [b for r, _ in reps for b in r.batches]
        values = {
            "setup_s": statistics.median(setup_s),
            "cpu_s": statistics.median(r.cpu_s for r, _ in reps),
            "peak_rss_mb": peak_rss / 2 ** 20,
            "precision": min(c.precision for _, c in reps),
            "recall": min(c.recall for _, c in reps),
        }
        metrics = {k: _metric(values[k], u) for k, u in E2E_METRICS.items()}
        # wall times: printed, not gated (too noisy on a shared host)
        print(f"wall run_s {statistics.median(r.run_s for r, _ in reps):.3f} "
              f"batch_s {statistics.median(batches):.3f} batch_s_max "
              f"{statistics.median(max(r.batches) for r, _ in reps):.3f}")
        print(f"reps {len(reps)} batches {len(batches)} "
              f"fail_ratio {failed / attempted:.4f}")
    else:
        metrics = {}
    for k, m in metrics.items():
        print(f"metric {k} {m['value']:.6g} {m['unit']}")
    correct = failed == 0 and not problems and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


_T0 = time.perf_counter()


def _phase(name: str, detail=None) -> None:
    """Progress on stderr: seconds since start, phase, detail."""
    if detail is not None:
        detail = [round(x, 3) for x in detail]
    print(f"perfbench {time.perf_counter() - _T0:7.2f}s {name} "
          f"{detail if detail is not None else ''}", file=sys.stderr)


def _digest(inp) -> str:
    return "+".join(i.digest for i in inp) if isinstance(inp, tuple) else inp.digest


def _java_version() -> str:
    import subprocess
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    try:
        out = subprocess.run([java if os.path.exists(java) else "java",
                              "-version"], capture_output=True, text=True,
                             timeout=30)
        return next(ln for ln in out.stderr.splitlines() if "version" in ln)
    except (OSError, StopIteration, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    sys.exit(main())
