"""Incremental chunk-delta operator: the reference's DEBUG invariant
(incremental == bulk, graph.cpp:346-363) over a real Structured Streaming
run, plus unit tests of the delta math."""

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from sbustreamspot_core_spark.config import StreamSpotParams
from sbustreamspot_core_spark.functions.hashing import get_string_chunks
from sbustreamspot_core_spark.operators.shingles import (
    build_adjacency,
    build_chunk_counts,
    build_shingles,
)
from sbustreamspot_core_spark.sources.edges import read_streamspot_edges
from sbustreamspot_core_spark.streaming.stateful import (
    STATE_SCHEMA,
    chunk_delta,
    incremental_chunk_deltas,
)

from .conftest import REFERENCE_EDGES, needs_reference

PARAMS = StreamSpotParams(chunk_length=4, L=100, B=5, R=20)


def test_chunk_delta_unit():
    # append to a shingle whose last chunk is partial
    s, app = " aptbq", "tr"       # C=4: [" apt", "bq"] -> [" apt", "bqtr"]
    d = chunk_delta(s, app, 4)
    assert d == Counter({"bqtr": 1, "bq": -1})
    # append crossing a chunk boundary
    s2, app2 = " apt", "bqtr"     # [" apt"] -> [" apt", "bqtr"]
    assert chunk_delta(s2, app2, 4) == Counter({"bqtr": 1})
    # cumulative deltas over arbitrary append splits == bulk chunks
    full = " a" + "tbtcrqsd"
    for split in range(0, 9, 2):
        acc = Counter(get_string_chunks(" a" + full[2:2 + split], 4))
        acc.update(chunk_delta(" a" + full[2:2 + split], full[2 + split:], 4))
        assert +acc == Counter(get_string_chunks(full, 4))


def _assert_deltas_reproduce_bulk_counts(spark, edges_path, tmp_ckpt):
    """Drop the edges as two files (each gid's first 2 edges, then the rest);
    the stateful operator's cumulative deltas must equal the bulk chunk
    counts (incremental == bulk)."""
    edges = read_streamspot_edges(spark, edges_path).cache()
    src_dir = os.path.join(tmp_ckpt, "in")
    os.makedirs(src_dir)
    first = edges.filter("seq < 2")   # first 2 edges of each gid
    second = edges.filter("seq >= 2")
    first.coalesce(1).write.parquet(os.path.join(src_dir, "f1"))

    stream = (
        spark.readStream.schema(edges.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src_dir, "*"))
    )
    deltas = incremental_chunk_deltas(stream, PARAMS)
    q = (deltas.writeStream.outputMode("append").format("memory")
         .queryName("deltas")
         .option("checkpointLocation", os.path.join(tmp_ckpt, "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        second.coalesce(1).write.parquet(os.path.join(src_dir, "f2"))
        q.processAllAvailable()
    finally:
        q.stop()

    got = Counter()
    for r in spark.sql("SELECT * FROM deltas").collect():
        got[(r.gid, r.chunk)] += r.delta
    got = Counter({k: v for k, v in got.items() if v != 0})

    bulk = Counter({
        (r.gid, r.chunk): r.cnt
        for r in build_chunk_counts(
            build_shingles(build_adjacency(edges)), PARAMS.chunk_length
        ).collect()
    })
    assert got == bulk


@needs_reference
def test_streaming_deltas_reproduce_bulk_counts(spark, tmp_ckpt):
    """The reference's 12 edges through the stateful operator."""
    _assert_deltas_reproduce_bulk_counts(spark, REFERENCE_EDGES, tmp_ckpt)


def test_streaming_deltas_reproduce_bulk_counts_synthetic(
        spark, synthetic_sample, tmp_ckpt):
    """The synthetic sample (tests/conftest.py) through the stateful
    operator: runs where the reference sample is absent."""
    _assert_deltas_reproduce_bulk_counts(spark, synthetic_sample[0], tmp_ckpt)
