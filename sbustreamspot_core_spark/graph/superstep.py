"""Iterative superstep driver: constant-size plans, checkpoints, resume.

Every DataFrame a superstep loop reads (state, adjacency) is a
``local_leaf``: one scan node that keeps its hash partitioning, so every
superstep's plan has the size of the first.  Parquet checkpoints are
write-only resume points (north rule: "every superstep checkpoints
per-partition lineage and delta metrics ... so runs resume mid-iteration").
Layout under ``checkpoint_dir``:
    superstep=<k>/data/           parquet state snapshot
    superstep=<k>/lineage.json    per-partition rows, superstep metrics and
                                  the snapshot's schema
    superstep=<k>/_COMPLETE       commit marker (written last)

The per-partition rows come from the files just written, not from another
Spark job: the state leaf is written without a shuffle, so ``part-<p>`` holds
the rows of the state's partition ``p``, and its parquet footer has their
count.  A checkpoint costs exactly one Spark job, the write.

Resume scans for the highest complete superstep and restarts the loop there;
a run whose last checkpoint converged returns that state without a superstep.
The snapshot is read with the schema ``lineage.json`` recorded (no
schema-inference job; a checkpoint that records none is refused), and the
checkpoint's recorded metrics are the resumed loop's ``prev_metrics``, so
a resumed superstep sees what the straight run's did.
Trade-off: a leaf's blocks cannot be recomputed, so a job that loses an
executor fails; rerun with ``resume=True`` to restart from the last parquet
checkpoint (superstep 0 without a checkpoint dir).

The driver owns the whole state lifecycle, so the algorithms only describe a
superstep: ``step_fn(state, k, prev_metrics)`` returns the new state's plan
plus named aggregate Columns over it, one of them a boolean ``converged``.
The driver makes the starting state and every new state a leaf, computes all
the metrics in ONE ``agg`` action (which also fills the new leaf), writes
checkpoints, releases the state it replaced, and runs the loop under
``iterative_conf``.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field
from contextlib import contextmanager
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..config import GraphParams
from ..session import local_table


@contextmanager
def iterative_conf(spark: SparkSession, num_partitions: int):
    """Static plans for a graph algorithm's actions: the superstep loop,
    PageRank's init action and ``triangle_count``'s one ``collect``.

    Their stages are short and co-partitioned; AQE's runtime re-planning
    adds latency to every stage and runs every query stage as a Spark job
    of its own (an 18-job ``triangle_count``), its partition coalescing
    breaks co-partition reuse between supersteps, and per-superstep
    broadcast rebuilds (collect to driver) dwarf the join they replace.
    Disable both for the duration of the action(s), restore after, so each
    action is one job.  So are runtime bloom filters: a leaf's size
    estimate comes from the plan it stores, so the optimizer would add a
    filter-building job (and a 1 MB task binary) to every superstep.
    Shuffles use the state's ``num_partitions``, or every message
    aggregation re-shuffles the state to ``spark.sql.shuffle.partitions``."""
    conf = spark.conf
    loop = {"spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
            "spark.sql.shuffle.partitions": str(num_partitions)}
    saved = {k: conf.get(k) for k in loop}
    try:
        for k, v in loop.items():
            conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def local_leaf(df: DataFrame, num_partitions: int) -> DataFrame:
    """``df`` as a lazy local checkpoint planned under ``iterative_conf``
    (no adaptive stage runs now; the scan keeps ``df``'s partitioning).  The
    first action over it fills its blocks; ``release`` drops them."""
    with iterative_conf(df.sparkSession, num_partitions):
        return df.localCheckpoint(eager=False)


def release(leaf: DataFrame) -> None:
    """Drop the blocks of a ``local_leaf``; nothing may read it after.
    ``RDD.unpersist`` would log a WARN for every locally checkpointed RDD,
    i.e. every superstep."""
    rdd = leaf._jdf.queryExecution().analyzed().rdd()
    rdd.context().unpersistRDD(rdd.id(), False)


@dataclass
class SuperstepResult:
    state: DataFrame
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    resumed_from: int | None = None


_PART_FILE = re.compile(r"part-(\d+)-")


def _partition_lineage(data_dir: str) -> list[dict]:
    """Rows per state partition of a snapshot just written from the state
    leaf with no shuffle: the row counts of the ``part-<partition>`` files'
    parquet footers (read on the driver, no Spark job).  Empty partitions
    are omitted, as Spark writes no file for them (or an empty one for
    partition 0)."""
    rows: dict[int, int] = {}
    for name in os.listdir(data_dir):
        m = _PART_FILE.match(name)
        if m:
            p = int(m.group(1))
            rows[p] = rows.get(p, 0) + pq.ParquetFile(
                os.path.join(data_dir, name)).metadata.num_rows
    return [{"partition_id": p, "rows": n}
            for p, n in sorted(rows.items()) if n]


class SuperstepDriver:
    """Runs ``step_fn`` until convergence with checkpoint/resume.

    step_fn(state_df, superstep, prev_metrics) -> (plan, aggs): ``plan`` is
    the new state, ``aggs`` maps metric names to aggregate Columns over it
    and must include a boolean ``converged``.  ``prev_metrics`` is the
    previous superstep's metrics dict (``superstep`` plus every metric);
    on the first superstep of a resumed run it is the one the checkpoint
    recorded in ``lineage.json``, so it is ``None`` only on the first
    superstep of a fresh run.  Every metric is recorded into the lineage
    file.  An empty state has converged: its ``converged`` aggregate is
    NULL, as every aggregate over zero rows is, and reads as True.
    States are keyed by ``id`` (PageRank, CC and LPA all are): a resumed
    parquet snapshot is hash-partitioned on ``id`` at ``num_partitions``
    before the loop, as a straight run's state is.
    """

    def __init__(self, spark: SparkSession, params: GraphParams,
                 checkpoint_dir: str | None = None,
                 lineage_table: str | None = None):
        self.spark = spark
        self.num_partitions = params.num_partitions
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_interval = max(1, params.checkpoint_interval)
        # optional Iceberg-style lineage sink (sources/snaptable.py): one
        # snapshot COMMIT per checkpointed superstep carrying the
        # per-partition rows, with the superstep's delta metrics in the
        # snapshot summary — queryable/time-travelable lineage, the north
        # rule's "lineage + delta metrics to Iceberg" sink shape
        self.lineage_table = lineage_table
        if lineage_table is not None and checkpoint_dir is None:
            # lineage commits ride the checkpoint cadence; accepting the
            # table without a checkpoint dir would silently record nothing
            raise ValueError("lineage_table requires checkpoint_dir "
                             "(lineage commits happen at checkpoints)")
        self._run_id: str | None = None

    # -- checkpoint bookkeeping -------------------------------------------
    def _step_dir(self, k: int) -> str:
        return os.path.join(self.checkpoint_dir, f"superstep={k}")

    def last_complete_superstep(self) -> int | None:
        if not self.checkpoint_dir or not os.path.isdir(self.checkpoint_dir):
            return None
        best = None
        for name in os.listdir(self.checkpoint_dir):
            if name.startswith("superstep="):
                k = int(name.split("=", 1)[1])
                if os.path.exists(os.path.join(self.checkpoint_dir, name, "_COMPLETE")):
                    best = k if best is None else max(best, k)
        return best

    def _checkpoint(self, state: DataFrame, k: int, metrics: dict) -> None:
        d = self._step_dir(k)
        data = os.path.join(d, "data")
        state.write.mode("overwrite").parquet(data)
        parts = _partition_lineage(data)
        lineage = {
            "superstep": k,
            "wall_time": time.time(),
            "metrics": dict(metrics),
            "partitions": parts,
            "schema": state.schema.json(),
        }
        with open(os.path.join(d, "lineage.json"), "w") as f:
            json.dump(lineage, f)
        if self.lineage_table is not None:
            self._commit_lineage(k, metrics, parts)
        with open(os.path.join(d, "_COMPLETE"), "w") as f:
            f.write("")

    def _commit_lineage(self, k: int, metrics: dict, parts: list[dict]) -> None:
        from ..sources.snaptable import SnapTable
        t = SnapTable.open_or_create(self.lineage_table)
        # idempotent under replay: this append lands BEFORE the _COMPLETE
        # marker, so a crash between them re-runs the superstep — every
        # other sink in the checkpoint is an idempotent overwrite, and the
        # lineage log must not double-count superstep k's rows.  The skip
        # is scoped to THIS run's id (persisted in the checkpoint dir so a
        # resumed run inherits it): a fresh run pointed at a reused
        # lineage table must still record its own supersteps
        if any(s["summary"].get("superstep") == k
               and s["summary"].get("run_id") == self._run_id
               for s in t.snapshots()):
            return
        df = local_table(
            self.spark,
            [(k, p["partition_id"], p["rows"]) for p in parts],
            "superstep int, partition_id int, rows long")
        summary = {m: v for m, v in metrics.items()
                   if isinstance(v, (int, float, bool, str))}
        t.append(df, summary={"superstep": k, "run_id": self._run_id,
                              **summary})

    # -- main loop ---------------------------------------------------------
    def run(self, initial_state: DataFrame,
            step_fn: Callable[[DataFrame, int, dict | None],
                              tuple[DataFrame, dict[str, Column]]],
            max_iters: int, resume: bool = True) -> SuperstepResult:
        resumed_from = None
        start_k = 0
        if self.checkpoint_dir:
            # run identity for lineage idempotence: a resumed run reuses
            # the crashed run's id (so a replayed superstep's lineage
            # commit is recognized and skipped), while a fresh run gets a
            # new one (so reusing a lineage table across runs records each
            # run rather than silently suppressing the later ones)
            run_id_file = os.path.join(self.checkpoint_dir, "run_id.txt")
            if resume and os.path.exists(run_id_file):
                with open(run_id_file) as f:
                    self._run_id = f.read().strip()
            else:
                self._run_id = uuid.uuid4().hex
                os.makedirs(self.checkpoint_dir, exist_ok=True)
                with open(run_id_file, "w") as f:
                    f.write(self._run_id)
        last = self.last_complete_superstep() if resume else None
        prev_metrics = None
        if last is not None:
            path = os.path.join(self._step_dir(last), "lineage.json")
            with open(path) as f:
                lineage = json.load(f)
            if "schema" not in lineage:
                raise ValueError(
                    f"checkpoint {path} records no schema; resume needs a "
                    "checkpoint whose lineage.json records its schema")
            prev_metrics = {"superstep": last, **lineage["metrics"]}
            initial_state = self.spark.read.schema(
                StructType.fromJson(json.loads(lineage["schema"]))
            ).parquet(
                os.path.join(self._step_dir(last), "data")
            ).repartition(self.num_partitions, "id")
            start_k = last + 1
            resumed_from = last
        state = local_leaf(initial_state, self.num_partitions)
        if prev_metrics is not None and prev_metrics["converged"]:
            return SuperstepResult(state, start_k, True, [], resumed_from)

        all_metrics: list[dict] = []
        converged = False
        k = start_k - 1
        with iterative_conf(self.spark, self.num_partitions):
            for k in range(start_k, max_iters):
                t0 = time.time()
                plan, aggs = step_fn(state, k, prev_metrics)
                new_state = local_leaf(plan, self.num_partitions)
                # one action: every metric, and it fills the new leaf
                metrics = new_state.agg(
                    *[c.alias(m) for m, c in aggs.items()]).first().asDict()
                # NULL over zero rows: an empty state has converged
                if metrics["converged"] is None:
                    metrics["converged"] = True
                metrics["step_sec"] = round(time.time() - t0, 3)
                t0 = time.time()
                if self.checkpoint_dir is not None and (
                        (k + 1) % self.checkpoint_interval == 0
                        or metrics["converged"]):
                    self._checkpoint(new_state, k, metrics)
                metrics["ckpt_sec"] = round(time.time() - t0, 3)
                release(state)
                state = new_state
                prev_metrics = {"superstep": k, **metrics}
                all_metrics.append(prev_metrics)
                if metrics["converged"]:
                    converged = True
                    break
        return SuperstepResult(state, k + 1, converged, all_metrics,
                               resumed_from)
