"""Structured Streaming front end: file-drop source drives the same pipeline
as the batch replay; final state must equal the batch-mode result with the
same batching."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sbustreamspot_core_spark.config import StreamSpotParams
from sbustreamspot_core_spark.sources.bootstrap import read_bootstrap_clusters
from sbustreamspot_core_spark.sources.edges import EDGE_SCHEMA, read_streamspot_edges
from sbustreamspot_core_spark.streaming.replay import (
    MicroBatchReplay,
    assign_replay_seq,
)
from sbustreamspot_core_spark.streaming.structured import StructuredStreamSpot

from .conftest import REFERENCE_BOOTSTRAP, REFERENCE_EDGES, needs_reference

PARAMS = StreamSpotParams(chunk_length=10, L=100, B=5, R=20,
                          cluster_update_interval=100)

STREAM_SCHEMA = T.StructType(
    EDGE_SCHEMA.fields + [T.StructField("seq", T.LongType(), True)])


@needs_reference
def test_structured_streaming_matches_batch(spark, tmp_ckpt):
    boot = read_bootstrap_clusters(REFERENCE_BOOTSTRAP)
    edges = read_streamspot_edges(spark, REFERENCE_EDGES)
    train = edges.filter(edges.gid.isin(list(boot.train_gids))).cache()
    test = edges.filter(~edges.gid.isin(list(boot.train_gids)))
    test_seq = assign_replay_seq(test).cache()

    # batch-mode expected state: one batch containing all test edges
    batch_engine = MicroBatchReplay(spark, PARAMS, boot, train)
    expect = batch_engine.run(test_seq, resume=False)

    # streaming: drop all test edges as one file into the source dir
    src_dir = os.path.join(tmp_ckpt, "incoming")
    state_dir = os.path.join(tmp_ckpt, "state")
    (test_seq.select(*[f.name for f in EDGE_SCHEMA.fields],
                     F.col("replay_seq").alias("seq"))
     .coalesce(1).write.mode("overwrite").parquet(src_dir))

    engine = StructuredStreamSpot(spark, PARAMS, boot, train, state_dir)
    q = engine.start(src_dir, STREAM_SCHEMA)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert engine.cluster_map == expect["cluster_map"]
    for gid, s in expect["anomaly_scores"].items():
        assert engine.anomaly_scores[gid] == pytest.approx(s), gid
    # snapshots landed
    snaps = [d for d in os.listdir(os.path.join(state_dir, "snapshots"))
             if d.startswith("batch=")]
    assert snaps
