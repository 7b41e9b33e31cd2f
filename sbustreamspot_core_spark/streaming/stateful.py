"""Stateful streaming chunk-delta operator (the reference's incremental
sketch path, X4, as a Structured Streaming stateful transform).

The reference maintains per-edge incremental chunk deltas against the
arrival-ordered shingle (graph.cpp:239-430: on each appended edge the last
chunk is rewritten and at most one chunk is added/removed).  Here the same
incremental contract is a keyed ``applyInPandasWithState`` operator:

- key: (gid, src_id, src_type) — one shingle per source node;
- state: the source's current shingle string (equivalently its adjacency
  suffix; the reference stores the full adjacency too, graph.h:32-33);
- output: (gid, chunk, delta) rows — the multiset difference between the
  chunk decomposition before and after this batch's edges.

Invariant (the one the reference asserts in DEBUG builds, graph.cpp:346-363):
summing the emitted deltas over the whole stream reproduces the bulk chunk
counts of the full edge set — pinned by the equivalence test.  Downstream,
``delta x hashmulti(chunk)`` gives the projection delta (streamhash.cpp
semantics), so sketches can be maintained without re-reading history.
"""

from __future__ import annotations

from collections import Counter
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..config import StreamSpotParams
from ..functions.hashing import get_string_chunks

OUTPUT_SCHEMA = T.StructType([
    T.StructField("gid", T.LongType()),
    T.StructField("chunk", T.StringType()),
    T.StructField("delta", T.LongType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("shingle", T.StringType()),
])


def chunk_delta(shingle: str, appended: str, chunk_length: int) -> Counter:
    """Signed multiset diff of chunk decompositions before/after the append.

    Only chunks from the old last-chunk boundary onward can change (the
    property the reference's hand-rolled cases exploit, graph.cpp:239-261),
    so the diff is computed on the tail only.
    """
    k0 = max((len(shingle) - 1) // chunk_length, 0) * chunk_length
    old = Counter(get_string_chunks(shingle[k0:], chunk_length))
    new = Counter(get_string_chunks(shingle[k0:] + appended, chunk_length))
    new.subtract(old)
    return Counter({c: d for c, d in new.items() if d != 0})


def _delta_group(key, pdf_iter, state, *, chunk_length):
    """The applyInPandasWithState kernel: one source's new edges -> its
    chunk-count deltas, carrying the shingle in the group state."""
    gid, src_id, src_type = key
    if state.exists:
        (shingle,) = state.get
        appended_parts = []
    else:
        shingle = ""
        # first sight of this source: the OkBFT prefix (graph.cpp:93)
        # counts as appended so its chunks are emitted as +1 once
        appended_parts = [" " + src_type]
    for pdf in pdf_iter:
        pdf = pdf.sort_values("seq")
        for e_type, dst_type in zip(pdf["e_type"], pdf["dst_type"]):
            appended_parts.append(e_type + dst_type)
    appended = "".join(appended_parts)
    delta = chunk_delta(shingle, appended, chunk_length)
    state.update((shingle + appended,))
    if delta:
        yield pd.DataFrame({
            "gid": [int(gid)] * len(delta),
            "chunk": list(delta.keys()),
            "delta": [int(v) for v in delta.values()],
        })


def incremental_chunk_deltas(edges: DataFrame,
                             params: StreamSpotParams) -> DataFrame:
    """Streaming transform: EDGE_SCHEMA(+seq) stream -> (gid, chunk, delta).

    Works on both streaming and batch DataFrames (applyInPandasWithState
    requires streaming; for batch inputs use ``build_chunk_counts``).
    """
    return (
        edges.groupBy("gid", "src_id", "src_type")
        .applyInPandasWithState(
            partial(_delta_group, chunk_length=params.chunk_length),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )
