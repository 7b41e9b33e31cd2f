"""Source-layer routing tests: scenario presets, train/test split, edge
cases (empty inputs, single-node graphs)."""

import pytest

from sbustreamspot_core_spark.config import DATASET_SCENARIOS, GraphParams
from sbustreamspot_core_spark.graph.components import connected_components
from sbustreamspot_core_spark.graph.pagerank import pagerank
from sbustreamspot_core_spark.graph.triangles import triangle_count
from sbustreamspot_core_spark.sources.edges import (
    read_streamspot_edges,
    scenario_filter,
    train_test_split,
)

from .conftest import REFERENCE_EDGES, needs_reference


def test_scenario_presets_match_reference():
    # main.cpp:128-146
    assert DATASET_SCENARIOS["all"] == {0, 1, 2, 3, 4, 5}
    assert DATASET_SCENARIOS["gfc"] == {1, 2, 5, 3}
    assert DATASET_SCENARIOS["ydc"] == {0, 4, 5, 3}


def test_scenario_filter_routes_by_gid_div_100(spark):
    rows = [(1, "a", 2, "b", "t", gid, 0) for gid in [0, 99, 100, 250, 399, 550]]
    df = spark.createDataFrame(
        rows, "src_id long, src_type string, dst_id long, dst_type string, "
              "e_type string, gid long, seq long")
    ydc = {r.gid for r in scenario_filter(df, "ydc").collect()}
    # ydc scenarios {0,4,5,3}: gids 0,99 (s0), 399 (s3), 550 (s5)
    assert ydc == {0, 99, 399, 550}
    gfc = {r.gid for r in scenario_filter(df, "gfc").collect()}
    # gfc scenarios {1,2,5,3}: gids 100 (s1), 250 (s2), 399 (s3), 550 (s5)
    assert gfc == {100, 250, 399, 550}


@needs_reference
def test_train_test_split_partitions_everything(spark):
    edges = read_streamspot_edges(spark, REFERENCE_EDGES)
    train, test = train_test_split(edges, {0, 1})
    assert train.count() + test.count() == 12
    assert {r.gid for r in train.collect()} == {0, 1}
    assert {r.gid for r in test.collect()} == {2, 3}
    # empty train set
    train0, test0 = train_test_split(edges, set())
    assert train0.count() == 0 and test0.count() == 12


def test_graph_algos_tiny_edge_cases(spark):
    params = GraphParams(num_partitions=2, max_iters=20, checkpoint_interval=5)
    # single edge
    one = spark.createDataFrame([(1, 2)], "src long, dst long")
    pr = {r.id: r.rank for r in pagerank(spark, one, params).ranks.collect()}
    assert set(pr) == {1, 2} and pr[2] > pr[1]
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    assert triangle_count(spark, one, params) == 0
    # self-loop only
    loop = spark.createDataFrame([(5, 5)], "src long, dst long")
    cc = {r.id: r.component
          for r in connected_components(spark, loop, params=params)
          .components.collect()}
    assert cc == {5: 5}
