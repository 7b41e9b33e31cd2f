"""Skew harness: degree histograms, salted aggregation, heavy-key handling.

North rule: "Skew from mega-hub pages is handled with salted repartitioning
and degree-threshold broadcast of heavy vertices."

Where skew actually bites in this engine and what handles it:

- **In-degree skew** (mega-hub receiving contributions/messages): the
  per-superstep ``groupBy(dst).sum`` is a partial+final hash aggregate, so
  each map task pre-combines its contributions to the hub into ONE row
  before the shuffle — the reduce side receives at most #partitions rows per
  key.  ``salted_sum`` below provides the explicit two-phase salted variant
  for aggregates that lack map-side combine (e.g. ``collect_list``).
- **Out-degree skew** (hub with 10^8 out-links would explode inside one
  task): CSR blocking in ``pagerank.build_links`` caps every adjacency row
  at ``csr_block_size`` targets, spreading one vertex's fan-out across many
  rows/partitions.
- **Join skew against heavy keys**: ``split_by_degree`` partitions the edge
  table into a light side (shuffle join) and a heavy side whose vertex
  state is broadcast-joined — the degree-threshold broadcast pattern.
  AQE's skew-join splitting covers the residual cases at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degree_table(edges: DataFrame, direction: str = "out") -> DataFrame:
    """(id, deg) in/out-degree table of the edge list."""
    col = "src" if direction == "out" else "dst"
    return edges.groupBy(F.col(col).alias("id")).agg(F.count("*").alias("deg"))


def degree_histogram(edges: DataFrame, direction: str = "out") -> DataFrame:
    """(log2_bucket, n_vertices) degree histogram — the skew diagnostic used
    to pick a ``heavy_vertices`` threshold."""
    deg = degree_table(edges, direction)
    return (
        deg.select(F.floor(F.log2("deg")).cast("int").alias("log2_bucket"))
        .groupBy("log2_bucket").agg(F.count("*").alias("n_vertices"))
        .orderBy("log2_bucket")
    )


def heavy_vertices(edges: DataFrame, threshold: int,
                   direction: str = "in",
                   degrees: DataFrame | None = None) -> DataFrame:
    """(id, deg) of vertices whose degree exceeds the threshold.

    ``degrees``: an existing (id, deg) table for this direction — pass the
    one the engine already built (e.g. PageRank init's out-degree table)
    to skip the full edge scan this function otherwise pays."""
    if degrees is None:
        degrees = degree_table(edges, direction)
    return degrees.filter(F.col("deg") > threshold)


def split_by_degree(edges: DataFrame, threshold: int,
                    key: str = "dst",
                    degrees: DataFrame | None = None
                    ) -> tuple[DataFrame, DataFrame]:
    """(light_edges, heavy_edges) split by the degree of ``key``.

    The heavy side is the degree-threshold broadcast path: joins against
    per-vertex state on the heavy side should broadcast the (tiny) heavy
    vertex set rather than shuffling the full edge table on a hot key.

    ``degrees``: an existing CACHED (id, deg) table for the key's
    direction — in-degree for ``key='dst'``, out-degree for
    ``key='src'``.  The direction contract is NOT checkable from the
    table's shape (both directions are (id, deg)); a mismatched table
    produces a plausible-looking but wrong split that puts hub edges back
    on the shuffled light path.  The diagnostic degree scan is this
    harness's measured
    adoption blocker (BENCH.md round-5: below the straggler crossover the
    scan costs more than the straggler it avoids) — but every iterative
    consumer already owns a degree table (PageRank init builds out-degree
    for contributions; CC/LPA build adjacency), so passing it makes the
    split's own overhead one broadcast semi/anti-join pair instead of an
    extra full edge aggregation (BENCH.md round-6 measures the
    difference)."""
    heavy = heavy_vertices(edges, threshold, "in" if key == "dst" else "out",
                           degrees=degrees).select(F.col("id").alias(key))
    heavy_edges = edges.join(F.broadcast(heavy), key, "left_semi")
    light_edges = edges.join(F.broadcast(heavy), key, "left_anti")
    return light_edges, heavy_edges


def salted_sum(df: DataFrame, key_cols: list[str], value_col: str,
               n_salts: int = 32) -> DataFrame:
    """Two-phase salted sum: groupBy(key, salt) partial -> groupBy(key) final.

    Equivalent to a plain groupBy-sum but immune to single-hot-key reducer
    skew even for aggregates without map-side combine.  Deterministic
    (salt = hash of the full row spread uniformly, and + is commutative).
    """
    salt = (F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.sum(value_col).alias("_partial"))
    )
    return partial.groupBy(*key_cols).agg(F.sum("_partial").alias(value_col))


def salted_collect(df: DataFrame, key_cols: list[str], value_col: str,
                   n_salts: int = 32) -> DataFrame:
    """Salted collect_list -> flattened array (collect_list has no map-side
    combine, so a hot key would funnel every row through one reducer without
    salting).  Output order is normalized with sort_array for determinism."""
    salt = (F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.collect_list(value_col).alias("_part"))
    )
    return (
        partial.groupBy(*key_cols)
        .agg(F.sort_array(F.flatten(F.collect_list("_part"))).alias(value_col))
    )
