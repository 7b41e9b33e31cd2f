"""Structured Streaming front end: file-drop source drives the same pipeline
as the batch replay; final state must equal the batch-mode result with the
same batching."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sbustreamspot_core_spark.config import ANOMALY, StreamSpotParams
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


# --------------------------------------------------------------------------
# Host-runnable cases on the synthetic sample (tests/conftest.py): the 20
# test edges arrive as two file drops, one epoch each, and every case must
# end where MicroBatchReplay ends with the same batching.  Test graphs 4 and
# 5 end inside the first drop, so a restart that forgets the first epoch's
# cluster updates loses them.

SYN_PARAMS = StreamSpotParams(chunk_length=4, L=100, B=5, R=20,
                              cluster_update_interval=14)


@pytest.fixture(scope="module")
def synthetic_stream(spark, synthetic_sample):
    edges_path, bootstrap_path = synthetic_sample
    boot = read_bootstrap_clusters(bootstrap_path)
    edges = read_streamspot_edges(spark, edges_path)
    train = edges.filter(edges.gid.isin(list(boot.train_gids))).cache()
    test_seq = assign_replay_seq(
        edges.filter(~edges.gid.isin(list(boot.train_gids)))).cache()
    assert -(-test_seq.count() // SYN_PARAMS.cluster_update_interval) == 2
    expect = MicroBatchReplay(spark, SYN_PARAMS, boot, train).run(
        test_seq, resume=False)
    rows = test_seq.select(*[f.name for f in EDGE_SCHEMA.fields],
                           F.col("replay_seq").alias("seq"))
    half = F.col("seq") < SYN_PARAMS.cluster_update_interval
    return boot, train, [rows.filter(half), rows.filter(~half)], expect


def _drop(df, src_dir, name):
    """Land one parquet file in the source directory atomically."""
    staging = os.path.join(os.path.dirname(src_dir), "staging_" + name)
    df.coalesce(1).write.parquet(staging)
    (part,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
    os.rename(os.path.join(staging, part), os.path.join(src_dir, name + ".parquet"))


def _engine(spark, synthetic_stream, state_dir):
    boot, train, _, _ = synthetic_stream
    return StructuredStreamSpot(spark, SYN_PARAMS, boot, train, state_dir)


def _process(engine, src_dir):
    q = engine.start(src_dir, STREAM_SCHEMA)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _assert_matches_replay(engine, expect):
    assert engine.cluster_map == expect["cluster_map"]
    for gid, s in expect["anomaly_scores"].items():
        assert engine.anomaly_scores[gid] == pytest.approx(s), gid


@pytest.fixture()
def dirs(tmp_ckpt):
    src_dir = os.path.join(tmp_ckpt, "incoming")
    os.makedirs(src_dir)
    return src_dir, os.path.join(tmp_ckpt, "state")


def test_structured_two_drops_match_replay(spark, synthetic_stream, dirs):
    src_dir, state_dir = dirs
    _, _, drops, expect = synthetic_stream
    engine = _engine(spark, synthetic_stream, state_dir)
    q = engine.start(src_dir, STREAM_SCHEMA)
    try:
        for i, drop in enumerate(drops):
            _drop(drop, src_dir, f"d{i}")
            q.processAllAvailable()
    finally:
        q.stop()
    _assert_matches_replay(engine, expect)
    assert engine.cluster_map[6] == ANOMALY
    assert engine.last_complete_batch() == 1


def test_structured_restart_between_drops(spark, synthetic_stream, dirs):
    src_dir, state_dir = dirs
    _, _, drops, expect = synthetic_stream
    _drop(drops[0], src_dir, "d0")
    _process(_engine(spark, synthetic_stream, state_dir), src_dir)

    engine = _engine(spark, synthetic_stream, state_dir)
    _drop(drops[1], src_dir, "d1")
    _process(engine, src_dir)
    _assert_matches_replay(engine, expect)
    assert engine.last_complete_batch() == 1     # batch=0 kept, not rewritten


def test_structured_fault_before_complete_then_restart(
        spark, synthetic_stream, dirs):
    src_dir, state_dir = dirs
    _, _, drops, expect = synthetic_stream
    _drop(drops[0], src_dir, "d0")
    _drop(drops[1], src_dir, "d1")
    dying = _engine(spark, synthetic_stream, state_dir)
    orig = dying._save_state

    def die_before_commit(k, snapshot, n_edges):
        if k == 1:
            raise RuntimeError("injected fault before _COMPLETE")
        orig(k, snapshot, n_edges)

    dying._save_state = die_before_commit
    with pytest.raises(Exception, match="injected fault"):
        _process(dying, src_dir)
    # epoch 1's edges are written, its _COMPLETE is not
    batch1 = os.path.join(state_dir, "snapshots", "batch=1")
    assert os.path.isdir(os.path.join(batch1, "edges"))
    assert not os.path.exists(os.path.join(batch1, "_COMPLETE"))

    engine = _engine(spark, synthetic_stream, state_dir)
    _process(engine, src_dir)
    _assert_matches_replay(engine, expect)


def test_structured_committed_epoch_is_not_reapplied(
        spark, synthetic_stream, dirs):
    src_dir, state_dir = dirs
    _, _, drops, expect = synthetic_stream
    _drop(drops[0], src_dir, "d0")
    _drop(drops[1], src_dir, "d1")
    _process(_engine(spark, synthetic_stream, state_dir), src_dir)
    # the epoch's own state committed, the stream's commit log lost it: the
    # restarted query redelivers epoch 1
    commits = os.path.join(state_dir, "stream_ckpt", "commits")
    for name in ("1", ".1.crc"):      # the entry and its checksum sidecar
        os.remove(os.path.join(commits, name))

    engine = _engine(spark, synthetic_stream, state_dir)
    _process(engine, src_dir)
    _assert_matches_replay(engine, expect)
