"""Round-2 scale-fix regression tests: hub-safe CSR blocking, multi-table
ANN recall."""

import pytest
from pyspark.sql import functions as F

from sbustreamspot_core_spark.config import GraphParams
from sbustreamspot_core_spark.graph import pagerank as pagerank_mod
from sbustreamspot_core_spark.graph.pagerank import (
    build_links,
    pagerank,
    prepared_edges,
)
from sbustreamspot_core_spark.oracles.graph_oracle import pagerank_oracle


def test_build_links_blocks_mega_hub_before_aggregation(spark, monkeypatch):
    """A hub with out-degree >> CSR_BLOCK_SIZE must never put more than ~one
    block of targets into a single aggregation buffer / output row."""
    bs = 64
    monkeypatch.setattr(pagerank_mod, "CSR_BLOCK_SIZE", bs)
    hub_deg = 5000
    edges = spark.range(hub_deg).select(
        F.lit(0).alias("src"), (F.col("id") + 1).alias("dst"))
    edges = edges.unionByName(spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"))
    links = build_links(prepared_edges(edges, GraphParams(num_partitions=4)))
    rows = links.collect()
    hub_rows = [r for r in rows if r.src == 0]
    # full out-degree carried on every block row
    assert all(r.deg == hub_deg for r in hub_rows)
    # hash-split blocks: none much above the block size, union is exact
    assert max(len(r.targets) for r in hub_rows) <= 3 * bs
    assert len(hub_rows) >= hub_deg // bs
    got = sorted(t for r in hub_rows for t in r.targets)
    assert got == list(range(1, hub_deg + 1))
    light = {r.src: r for r in rows if r.src != 0}
    assert light[1].deg == 1 and list(light[1].targets) == [2]


def test_pagerank_unchanged_with_hub_blocking(spark, monkeypatch):
    """Blocked adjacency must not change PageRank values (hub graph)."""
    monkeypatch.setattr(pagerank_mod, "CSR_BLOCK_SIZE", 8)
    e = [(0, i) for i in range(1, 40)] + [(i, (i % 7) + 1) for i in range(1, 40)]
    edges = spark.createDataFrame(e, "src long, dst long")
    params = GraphParams(num_partitions=4, max_iters=25, tol=1e-10,
                         checkpoint_interval=10)
    expect, _ = pagerank_oracle(e, damping=0.85, tol=1e-10, max_iters=25)
    got = {r.id: r.rank for r in pagerank(spark, edges, params).ranks.collect()}
    for node, r in expect.items():
        assert got[node] == pytest.approx(r, abs=1e-6)
