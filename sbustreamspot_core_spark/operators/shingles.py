"""Adjacency, shingle, and chunk-count operators — pure column expressions.

Reference semantics:
- adjacency: per (gid, src) arrival-ordered out-edge list (graph.cpp:24-37);
  arrival order carried by the explicit ``seq`` column.
- K=1 OkBFT shingle: ' ' + src_type + sum(e_type + dst_type) over the ordered
  out-edges (graph.cpp:80-133 with the d==K cutoff; K=1 asserted main.cpp:149).
- chunking: fixed-length substrings (graph.cpp:432-438).
- shingle-frequency count: graph.cpp:119-122.

Everything here is Catalyst-optimizable (whole-stage codegen; the only shuffle
is the groupBy) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_adjacency(edges: DataFrame) -> DataFrame:
    """(gid, src_id, src_type, out: array<struct<seq,e_type,dst_type>>).

    ``sort_array`` on the struct sorts by ``seq`` first — this is what makes
    the result independent of shuffle/partition order (the C++ relies on
    insertion order instead, graph.cpp:33-36).
    """
    return (
        edges.groupBy("gid", "src_id", "src_type")
        .agg(F.sort_array(F.collect_list(F.struct("seq", "e_type", "dst_type"))).alias("out"))
    )


def build_shingles(adjacency: DataFrame) -> DataFrame:
    """(gid, src_id, src_type, shingle, n_out): the K=1 shingle
    ' ' + src_type + sum(e_type + dst_type) over the ordered out-edges."""
    return adjacency.select(
        "gid", "src_id", "src_type",
        F.concat(
            F.lit(" "),
            F.col("src_type"),
            F.array_join(
                F.transform(F.col("out"), lambda x: F.concat(x.e_type, x.dst_type)), ""
            ),
        ).alias("shingle"),
        F.size("out").alias("n_out"),
    )


def build_chunk_counts(shingles: DataFrame, chunk_length: int) -> DataFrame:
    """Per-graph chunk frequency table (gid, chunk, cnt): the one chunk
    rule, ``ceil(len / chunk_length)`` fixed-length substrings per shingle
    (the last may be short).

    Catalyst handles this as a partial+final hash aggregate (map-side combine
    absorbs per-graph chunk skew before the shuffle).

    Round 7: the chunk explode is a plain int-sequence Generate with the
    substring in the projection — a ``transform`` lambda in the Generate is
    a codegen fallback that takes the whole Generate/aggregate stage off
    whole-stage codegen (the same pattern measured 2x on ``minhash_bands``).
    """
    c = int(chunk_length)
    return (
        shingles.select(
            "gid", "shingle",
            F.explode(F.sequence(F.lit(0), F.ceil(
                F.length("shingle") / c).cast("int") - 1)).alias("i"))
        .select("gid",
                F.col("shingle").substr(F.col("i") * c + 1, F.lit(c))
                .alias("chunk"))
        .groupBy("gid", "chunk")
        .agg(F.count("*").alias("cnt"))
    )
