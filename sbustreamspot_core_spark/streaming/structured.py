"""Structured Streaming front end for the StreamSpot pipeline.

SURVEY.md §2.9: a ``foreachBatch`` shell over ``MicroBatchReplay.apply_batch``
that wires the replay engine to ``spark.readStream``, so the edge stream can
come from a real source (file drop directory here; Kafka on a production
cluster) instead of a pre-seq'd batch table.  Stream rows carry EDGE_SCHEMA
plus ``seq``, the stream order, which also serves as ``replay_seq``.

Epoch ``e`` is replay batch ``e``, in replay's own checkpoint layout under
``<state_dir>/snapshots``:
- the epoch's edges are written to ``batch=<e>/edges`` (overwritten when a
  failed epoch is redelivered);
- the step's window is those edges plus the edges of every ``_COMPLETE``
  batch, and ``apply_batch`` writes ``batch=<e>``'s snapshot, state and
  ``_COMPLETE`` marker;
- a new engine on the same ``state_dir`` resumes from the last complete
  batch, and an epoch that already has ``_COMPLETE`` (committed before the
  stream's own commit log recorded it) is skipped, never applied twice.

The count-based eviction window is not applied in this mode (a count-based
global window is inherently total-order; event-time watermark eviction is
the streaming-native analog and can be layered on the window).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import StreamSpotParams
from ..sources.bootstrap import BootstrapClusters
from .replay import MicroBatchReplay


class StructuredStreamSpot(MicroBatchReplay):
    """foreachBatch-driven StreamSpot: one ``apply_batch`` per epoch."""

    def __init__(self, spark: SparkSession, params: StreamSpotParams,
                 bootstrap: BootstrapClusters, train_edges: DataFrame,
                 state_dir: str):
        super().__init__(spark, params, bootstrap, train_edges,
                         checkpoint_dir=os.path.join(state_dir, "snapshots"))
        self.state_dir = state_dir
        self._resume()

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        done = self.complete_batches()
        if epoch_id in done:
            return
        path = os.path.join(self._batch_dir(epoch_id), "edges")
        batch_df.withColumn("replay_seq", F.col("seq")).write.mode(
            "overwrite").parquet(path)
        window = [path] + [os.path.join(self._batch_dir(k), "edges") for k in done]
        self.apply_batch(epoch_id, self.spark.read.parquet(path),
                         self.spark.read.parquet(*window))

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
