"""Iterative superstep driver: checkpoints, per-partition lineage, resume.

Iterative DataFrame jobs explode their logical plans; the fix is a storage-
backed checkpoint that truncates lineage AND doubles as the resume point
(north rule: "every superstep checkpoints per-partition lineage and delta
metrics ... so runs resume mid-iteration").  ``localCheckpoint`` is not
resumable, so checkpoints are parquet writes.

Layout under ``checkpoint_dir``:
    superstep=<k>/data/           parquet state snapshot
    superstep=<k>/lineage.json    per-partition rows + superstep metrics
    superstep=<k>/_COMPLETE       commit marker (written last)

Resume scans for the highest complete superstep and restarts the loop there.

The driver owns the whole state lifecycle, so the algorithms only describe a
superstep: ``step_fn(state, k, prev_metrics)`` returns the new state's
(uncached) plan plus named aggregate Columns over it, one of them a boolean
``converged``.  The driver caches the starting state and every new state,
computes all the metrics in ONE ``agg`` action (which also fills the cache),
checkpoints, releases the state it replaced, and runs the loop under
``iterative_conf``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_table


@contextmanager
def iterative_conf(spark: SparkSession):
    """Per-superstep stages are short and co-partitioned; AQE's runtime
    re-planning adds latency to every stage and its partition coalescing
    breaks co-partition reuse between supersteps, and per-superstep broadcast
    rebuilds (collect to driver) dwarf the join they replace.  Disable both
    for the duration of an iterative job, restore after."""
    conf = spark.conf
    saved = {
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled", "true"),
        "spark.sql.autoBroadcastJoinThreshold":
            conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"),
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        yield
    finally:
        for k, v in saved.items():
            conf.set(k, v)


@dataclass
class SuperstepResult:
    state: DataFrame
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    resumed_from: int | None = None


def _partition_lineage(df: DataFrame) -> list[dict]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("rows"))
        .collect()
    )
    return [{"partition_id": r.partition_id, "rows": r.rows} for r in rows]


class SuperstepDriver:
    """Runs ``step_fn`` until convergence with checkpoint/resume.

    step_fn(state_df, superstep, prev_metrics) -> (plan, aggs): ``plan`` is
    the new state, ``aggs`` maps metric names to aggregate Columns over it
    and must include a boolean ``converged``.  ``prev_metrics`` is the
    previous superstep's metrics dict, ``None`` on the first superstep of a
    fresh or resumed run.  Every metric is recorded into the lineage file.
    """

    def __init__(self, spark: SparkSession, checkpoint_dir: str | None = None,
                 checkpoint_interval: int = 5,
                 lineage_table: str | None = None):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_interval = max(1, checkpoint_interval)
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

    def _checkpoint(self, state: DataFrame, k: int, metrics: dict) -> DataFrame:
        d = self._step_dir(k)
        data_dir = os.path.join(d, "data")
        state.write.mode("overwrite").parquet(data_dir)
        reread = self.spark.read.parquet(data_dir)
        parts = _partition_lineage(reread)
        lineage = {
            "superstep": k,
            "wall_time": time.time(),
            "metrics": dict(metrics),
            "partitions": parts,
        }
        with open(os.path.join(d, "lineage.json"), "w") as f:
            json.dump(lineage, f)
        if self.lineage_table is not None:
            self._commit_lineage(k, metrics, parts)
        with open(os.path.join(d, "_COMPLETE"), "w") as f:
            f.write("")
        return reread

    def _commit_lineage(self, k: int, metrics: dict, parts: list[dict]) -> None:
        from ..sources.snaptable import SnapTable, is_snaptable
        t = (SnapTable(self.lineage_table) if is_snaptable(self.lineage_table)
             else SnapTable.create(self.lineage_table))
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

    def load_checkpoint(self, k: int) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._step_dir(k), "data"))

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
        if last is not None:
            state = self.load_checkpoint(last)
            start_k = last + 1
            resumed_from = last
        else:
            # early supersteps reference the state 2-3x; cached (under the
            # caller's conf, before iterative_conf) so the init pipeline is
            # not re-derived each time
            state = initial_state.cache()

        all_metrics: list[dict] = []
        prev_metrics = None
        converged = False
        k = start_k - 1
        with iterative_conf(self.spark):
            for k in range(start_k, max_iters):
                t0 = time.time()
                plan, aggs = step_fn(state, k, prev_metrics)
                new_state = plan.cache()
                # one action: every metric, and it materializes the cache
                metrics = new_state.agg(
                    *[c.alias(m) for m, c in aggs.items()]).first().asDict()
                metrics["step_sec"] = round(time.time() - t0, 3)
                is_ckpt = ((k + 1) % self.checkpoint_interval == 0
                           or metrics["converged"])
                t0 = time.time()
                if is_ckpt and self.checkpoint_dir is not None:
                    # write from the cached state, reread to truncate lineage
                    reread = self._checkpoint(new_state, k, metrics)
                    new_state.unpersist()
                    new_state = reread.cache()
                    new_state.count()
                elif is_ckpt:
                    # no storage checkpoint configured: still truncate the
                    # logical plan (it grows per superstep and Catalyst
                    # analysis cost explodes without this) — not resumable,
                    # but fast
                    truncated = new_state.localCheckpoint(eager=True)
                    new_state.unpersist()
                    new_state = truncated
                metrics["ckpt_sec"] = round(time.time() - t0, 3)
                state.unpersist()
                state = new_state
                prev_metrics = {"superstep": k, **metrics}
                all_metrics.append(prev_metrics)
                if metrics["converged"]:
                    converged = True
                    break
        return SuperstepResult(state, k + 1, converged, all_metrics,
                               resumed_from)
