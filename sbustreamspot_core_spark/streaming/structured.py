"""Structured Streaming front end for the StreamSpot pipeline.

SURVEY.md §2.9: the replay engine's micro-batch body doubles as a
``foreachBatch`` sink — this module wires it to ``spark.readStream`` so the
edge stream can come from a real source (file drop directory here; Kafka on
a production cluster) instead of a pre-seq'd batch table.

Semantics per micro-batch (same math as ``MicroBatchReplay``):
1. append the batch's edges to an accumulated edge-state parquet
   (exactly-once via foreachBatch epoch dedup),
2. recompute sketches of the touched graphs from the accumulated state
   (distributed),
3. fold assignment/centroid updates into the driver state machine in
   event order,
4. write a snapshot.

The count-based eviction window is not applied in this mode (a count-based
global window is inherently total-order; event-time watermark eviction is
the streaming-native analog and can be layered on the state filter).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import StreamSpotParams
from ..session import local_table
from ..sources.bootstrap import BootstrapClusters
from .replay import MicroBatchReplay


class StructuredStreamSpot(MicroBatchReplay):
    """foreachBatch-driven StreamSpot; inherits the driver state machine and
    distributed sketch recompute from MicroBatchReplay."""

    def __init__(self, spark: SparkSession, params: StreamSpotParams,
                 bootstrap: BootstrapClusters, train_edges: DataFrame,
                 state_dir: str):
        super().__init__(spark, params, bootstrap, train_edges,
                         checkpoint_dir=os.path.join(state_dir, "snapshots"))
        self.state_dir = state_dir
        self.edges_dir = os.path.join(state_dir, "edge_state")
        self._batch_no = 0

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        rows = batch_df.select("gid", "seq").collect()
        if not rows:
            return
        batch_df.write.mode("append").parquet(self.edges_dir)
        accumulated = self.spark.read.parquet(self.edges_dir)
        touched = sorted({r.gid for r in rows})
        sk = self._sketch_table(
            accumulated.filter(F.col("gid").isin(touched))).collect()
        new_proj = {r.gid: np.array(r.projection, dtype=np.float64) for r in sk}
        order = sorted(touched, key=lambda g: max(
            r.seq for r in rows if r.gid == g))
        for g in order:
            old = self.projections.get(g, np.zeros(self.p.L))
            proj = new_proj.get(g, np.zeros(self.p.L))
            delta = proj - old
            self.projections[g] = proj
            self._update_clusters(int(g), delta)
        snap = local_table(
            self.spark,
            [(int(g), int(self.cluster_map.get(g, -2)),
              float(self.anomaly_scores.get(g, -2.0)))
             for g in sorted(self.projections)],
            "gid long, cluster_id int, anomaly_score double")
        self._save_state(self._batch_no, snap, len(rows))
        self._batch_no += 1

    def start(self, source_dir: str, schema, trigger_seconds: int | None = None):
        """Start the streaming query reading edge files dropped into
        ``source_dir``.  Returns the StreamingQuery."""
        stream = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(source_dir)
        )
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", os.path.join(self.state_dir, "stream_ckpt"))
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()
