"""StreamHash sketch construction — one Arrow-vectorized pass per graph.

``sketch_table`` is the one edges -> sketches chain: it hash-partitions the
edges on ``gid`` once, then runs ``build_adjacency`` -> ``build_shingles``
-> ``build_chunk_counts`` -> ``build_sketches``.  StreamSpot builds all of
it per graph (graph.cpp:24-37,119-122, streamhash.cpp:28-38), so every
grouping in the chain includes ``gid`` and that one Exchange serves them all
(Spark drops it when the input is already hash-partitioned on ``gid``).

``build_sketches`` groups the (gid, chunk, cnt) table by graph and runs one
applyInPandas kernel per group: it hashes the group's chunks with all L hash
functions (numpy batch matmul, streamhash.cpp:28-34) through a per-task memo,
so each task hashes each distinct chunk once (the chunk vocabulary is bounded
by the type-alphabet combinatorics, not by |E|), then takes projection =
sum(count * chunk_bits), sketch = sign(projection) (streamhash.cpp:36-38) and
the LSH band values (cluster.cpp:23-42).
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import StreamSpotParams
from ..functions.hashing import hashmulti_batch
from ..functions.sketches import band_values, pack_sketch
from ..rng import allocate_random_bits
from .shingles import build_adjacency, build_chunk_counts, build_shingles

SKETCH_SCHEMA = "gid long, projection array<long>, sketch binary, bands array<long>"


# inline-hashing memo cap: chunk -> (L,) int8 signs.  The memo dict is bound
# into the kernel empty, so every task unpickles its own — one memo per
# task, never shared between jobs with different hash functions.
_HASH_MEMO_CAP = 1_000_000


def _sketch_row(pdf: pd.DataFrame, projection: np.ndarray,
                B: int, R: int) -> pd.DataFrame:
    """The one output row of the per-graph sketch kernel."""
    sketch_bits = (projection >= 0).astype(np.uint8)[None, :]
    return pd.DataFrame({
        "gid": [int(pdf["gid"].iloc[0])],
        "projection": [projection.tolist()],
        "sketch": [pack_sketch(sketch_bits)[0].tobytes()],
        "bands": [band_values(sketch_bits, B, R)[0].tolist()],
    })


def _sketch_group_inline(pdf, *, H, B, R, memo):
    """``build_sketches`` kernel: one graph's (chunk, cnt) rows -> its
    sketch row, hashing chunks through the task's ``memo``."""
    chunks = pdf["chunk"].tolist()
    missing = [c for c in chunks if c not in memo]
    if missing:
        fresh = hashmulti_batch(missing, H)
        if len(memo) + len(missing) > _HASH_MEMO_CAP:
            memo.clear()
        for i, c in enumerate(missing):
            memo[c] = fresh[i]
    bits = np.stack([memo[c] for c in chunks])
    counts = pdf["cnt"].to_numpy(dtype=np.int64)
    return _sketch_row(pdf, counts @ bits.astype(np.int64), B, R)


def build_sketches(chunk_counts: DataFrame, params: StreamSpotParams) -> DataFrame:
    """(gid, projection, sketch, bands) from the (gid, chunk, cnt) table.

    One applyInPandas pass; each task hashes the chunks it sees with a
    per-task memo, so the input pipeline is never re-run for a separate
    vocabulary stage.
    """
    H = allocate_random_bits(params.L, params.chunk_length, params.seed)
    kernel = partial(_sketch_group_inline, H=H, B=params.B, R=params.R,
                     memo={})
    return chunk_counts.groupBy("gid").applyInPandas(kernel, schema=SKETCH_SCHEMA)


def sketch_table(edges: DataFrame, params: StreamSpotParams) -> DataFrame:
    """(gid, projection, sketch, bands) of every graph in a StreamSpot edge
    table: one shuffle on ``gid``, then the chain above."""
    shingles = build_shingles(build_adjacency(edges.repartition("gid")))
    return build_sketches(build_chunk_counts(shingles, params.chunk_length),
                          params)


def sketch_bands(sketches: DataFrame, params: StreamSpotParams) -> DataFrame:
    """Exploded LSH band table: (gid, band_idx, band_val) (cluster.cpp:23-42)."""
    return sketches.select(
        "gid", F.posexplode("bands").alias("band_idx", "band_val")
    )
