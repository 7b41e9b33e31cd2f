"""Synchronous label propagation (north rule G5), exact-match semantics.

Update rule per round (matched exactly by the oracle):
  label'(v) = most frequent label among v's neighbors; ties -> smallest
  label; isolated vertices keep their label.  Labels init to vertex id.
Deterministic under any partitioning because the argmax uses the total order
(count desc, label asc) via ``min_by`` on a (-count, label) struct.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import GraphParams
from .components import symmetrize
from .superstep import SuperstepDriver, local_leaf, release


@dataclass
class LabelPropResult:
    labels: DataFrame           # (id long, label long)
    supersteps: int
    converged: bool
    metrics: list[dict]


def label_propagation(spark: SparkSession, edges: DataFrame,
                      params: GraphParams = GraphParams(),
                      checkpoint_dir: str | None = None,
                      resume: bool = True,
                      lineage_table: str | None = None) -> LabelPropResult:
    """edges: (src long, dst long).  Pass a cached/materialized ``edges``
    when it is a derived UDF plan — init scans it during the symmetrize
    leaf fill (see graph/pagerank.py's note)."""
    sym = local_leaf(symmetrize(edges, params.num_partitions),
                     params.num_partitions)
    labels0 = (
        # sym is partitioned by a, so the grouping on id = a and the
        # superstep joins on id both ride that partitioning — label init
        # adds NO exchange at all (round 7).  label = min(a) = id, an
        # aggregate: a second alias of the key would be the partitioning
        # the state leaf keeps (it keeps one of a plan's partitionings)
        sym.groupBy(F.col("a").alias("id")).agg(F.min("a").alias("label"))
    )

    def step(state: DataFrame, k: int, prev: dict | None):
        nbr_labels = (
            state.join(sym.hint("shuffle_hash"), state["id"] == sym["a"])
            .select(F.col("b").alias("id"), "label")
        )
        mode = (
            nbr_labels.groupBy("id", "label").agg(F.count("*").alias("cnt"))
            .groupBy("id")
            .agg(F.min_by("label", F.struct(-F.col("cnt"), F.col("label")))
                 .alias("new_label"))
        )
        new_state = (
            state.join(mode, "id", "left")
            .select("id",
                    F.coalesce("new_label", "label").alias("label"),
                    (F.coalesce("new_label", "label") != F.col("label"))
                    .cast("int").alias("changed"))
        )
        # the `changed` column rides along in the state for the metrics;
        # steps only read (id, label)
        return new_state, {"changed": F.sum("changed"),
                           "converged": F.sum("changed") == 0}

    driver = SuperstepDriver(spark, params, checkpoint_dir,
                             lineage_table=lineage_table)
    result = driver.run(labels0, step, params.lpa_max_iters, resume)
    release(sym)
    return LabelPropResult(result.state.select("id", "label"),
                           result.supersteps, result.converged, result.metrics)
