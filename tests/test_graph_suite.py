"""Link-graph algorithm suite vs single-node oracles.

North-rule criteria: PageRank per-vertex allclose(1e-6); CC / LPA / triangles
exact; resumable checkpoints; deterministic across parallelism.
"""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from sbustreamspot_core_spark.config import GraphParams
from sbustreamspot_core_spark.graph.components import connected_components
from sbustreamspot_core_spark.graph.labelprop import label_propagation
from sbustreamspot_core_spark.graph.pagerank import pagerank
from sbustreamspot_core_spark.graph.superstep import SuperstepDriver
from sbustreamspot_core_spark.graph.triangles import (
    triangle_count,
    triangle_count_per_vertex,
)
from sbustreamspot_core_spark.oracles.graph_oracle import (
    connected_components_oracle,
    label_propagation_oracle,
    pagerank_oracle,
    triangle_count_oracle,
)

from .conftest import jobs_of

# Fixed-iteration configs keep test wall-time sane: with tol=0 both the Spark
# job and the oracle run exactly max_iters supersteps and must agree to float
# error (far below the 1e-6 target).  The convergence path is exercised with
# damping=0.5, which reaches tol=1e-7 in ~25 supersteps.
PARAMS = GraphParams(num_partitions=8, checkpoint_interval=3,
                     max_iters=15, tol=0.0)
FAST_CONVERGE = GraphParams(num_partitions=8, checkpoint_interval=5,
                            damping=0.5, tol=1e-7, max_iters=60)


def synthetic_edges(n_nodes=200, n_edges=800, seed=7, hub=True):
    """Deterministic power-law-ish digraph with a mega-hub and a dangling tail."""
    rng = np.random.default_rng(seed)
    src = rng.zipf(1.6, size=n_edges) % n_nodes
    dst = rng.integers(0, n_nodes, size=n_edges)
    edges = list({(int(s), int(d)) for s, d in zip(src, dst) if s != d})
    if hub:
        # every 5th node links to the hub (node 0) -> in-degree skew
        edges += [(i, 0) for i in range(5, n_nodes, 5)]
    # a dangling chain (nodes with no out-edges) + an isolated 2-clique
    edges += [(n_nodes, n_nodes + 1), (n_nodes + 2, n_nodes + 3)]
    return sorted(set(edges))


@pytest.fixture(scope="module")
def edges(spark):
    e = synthetic_edges()
    df = spark.createDataFrame(e, "src long, dst long").repartition(8).cache()
    return e, df


def test_pagerank_allclose_vs_oracle(spark, edges):
    e, df = edges
    expect, _ = pagerank_oracle(e, damping=0.85, tol=0.0,
                                max_iters=PARAMS.max_iters)
    res = pagerank(spark, df, PARAMS)
    got = {r.id: r.rank for r in res.ranks.collect()}
    assert res.supersteps == PARAMS.max_iters
    assert set(got) == set(expect)
    for node, r in expect.items():
        assert got[node] == pytest.approx(r, abs=1e-6), node
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_convergence(spark, edges):
    e, df = edges
    expect, oracle_iters = pagerank_oracle(e, damping=0.5, tol=1e-7,
                                           max_iters=60)
    res = pagerank(spark, df, FAST_CONVERGE)
    got = {r.id: r.rank for r in res.ranks.collect()}
    assert res.converged
    assert abs(res.supersteps - oracle_iters) <= 1
    for node, r in expect.items():
        assert got[node] == pytest.approx(r, abs=1e-6), node


def test_pagerank_checkpoint_resume(spark, edges, tmp_ckpt):
    e, df = edges
    full = pagerank(spark, df, PARAMS, checkpoint_dir=tmp_ckpt, resume=False)
    expect = {r.id: r.rank for r in full.ranks.collect()}

    # simulate a crash: delete every checkpoint after the first complete one,
    # then resume — final ranks must be identical
    steps = sorted(
        int(d.split("=")[1]) for d in os.listdir(tmp_ckpt) if d.startswith("superstep="))
    assert len(steps) >= 2
    for k in steps[1:]:
        shutil.rmtree(os.path.join(tmp_ckpt, f"superstep={k}"))
    resumed = pagerank(spark, df, PARAMS, checkpoint_dir=tmp_ckpt, resume=True)
    got = {r.id: r.rank for r in resumed.ranks.collect()}
    for node, r in expect.items():
        assert got[node] == pytest.approx(r, abs=1e-9), node


@pytest.mark.parametrize("algo", ["components", "labels"])
def test_cc_and_lpa_checkpoint_resume(spark, edges, tmp_ckpt, algo):
    """Drop the highest checkpoint and resume: the first resumed superstep
    runs with the checkpoint's recorded metrics as its previous metrics,
    and labels and superstep count match the uninterrupted run."""
    _, df = edges
    params = GraphParams(num_partitions=8, checkpoint_interval=2,
                         max_iters=15, lpa_max_iters=6)
    fn = connected_components if algo == "components" else label_propagation

    def run(resume):
        res = fn(spark, df, params=params, checkpoint_dir=tmp_ckpt,
                 resume=resume)
        return res, {tuple(r) for r in getattr(res, algo).collect()}

    full, expect = run(resume=False)
    steps = sorted(int(d.split("=")[1]) for d in os.listdir(tmp_ckpt)
                   if d.startswith("superstep="))
    assert len(steps) >= 2
    shutil.rmtree(os.path.join(tmp_ckpt, f"superstep={steps[-1]}"))
    resumed, got = run(resume=True)
    assert resumed.metrics[0]["superstep"] == steps[-2] + 1
    assert resumed.supersteps == full.supersteps
    assert got == expect


@pytest.mark.parametrize("algo", ["ranks", "components"])
def test_resume_after_converged_checkpoint_runs_no_superstep(
        spark, edges, tmp_ckpt, algo):
    """The last checkpoint of a converged run is the answer: resuming from
    it returns the same state and superstep count and writes nothing."""
    _, df = edges
    if algo == "ranks":
        def run(resume):
            return pagerank(spark, df, FAST_CONVERGE,
                            checkpoint_dir=tmp_ckpt, resume=resume)
    else:
        def run(resume):
            return connected_components(spark, df, params=FAST_CONVERGE,
                                        checkpoint_dir=tmp_ckpt,
                                        resume=resume)

    def listing():
        return sorted(d for d in os.listdir(tmp_ckpt)
                      if d.startswith("superstep="))

    full = run(resume=False)
    assert full.converged
    written = listing()
    assert written[-1] == f"superstep={full.supersteps - 1}"
    expect = {tuple(r) for r in getattr(full, algo).collect()}
    again = run(resume=True)
    assert (again.supersteps, again.converged) == (full.supersteps, True)
    assert {tuple(r) for r in getattr(again, algo).collect()} == expect
    assert listing() == written


def test_connected_components_exact(spark, edges):
    e, df = edges
    expect = connected_components_oracle(e)
    res = connected_components(spark, df, params=PARAMS)
    got = {r.id: r.component for r in res.components.collect()}
    assert res.converged
    assert got == expect
    # the isolated 2-cliques really are separate components
    assert got[202] == got[203] and got[202] != got[0]


def test_connected_components_with_isolated_nodes(spark):
    edges_df = spark.createDataFrame([(1, 2)], "src long, dst long")
    nodes_df = spark.createDataFrame([(1,), (2,), (99,)], "id long")
    res = connected_components(spark, edges_df, nodes=nodes_df, params=PARAMS)
    got = {r.id: r.component for r in res.components.collect()}
    assert got == {1: 1, 2: 1, 99: 99}


def test_small_graph_fast_path_identical(spark, edges):
    """The size-gated driver union-find emits exactly the distributed
    Hash-Min labels — including isolated nodes from ``nodes`` — and takes
    zero supersteps."""
    e, df = edges
    fast = GraphParams(num_partitions=8, checkpoint_interval=3,
                       small_graph_threshold=1_000_000)
    res = connected_components(spark, df, params=fast)
    assert res.supersteps == 0 and res.converged
    assert res.metrics[0]["mode"] == "driver_union_find"
    got = {r.id: r.component for r in res.components.collect()}
    assert got == connected_components_oracle(e)

    nodes_df = spark.createDataFrame([(1,), (2,), (99,)], "id long")
    edges_df = spark.createDataFrame([(1, 2)], "src long, dst long")
    res2 = connected_components(spark, edges_df, nodes=nodes_df, params=fast)
    assert {r.id: r.component for r in res2.components.collect()} == \
        {1: 1, 2: 1, 99: 99}
    # above the threshold the distributed path still runs
    tiny = GraphParams(num_partitions=8, checkpoint_interval=3,
                       small_graph_threshold=1)
    res3 = connected_components(spark, df, params=tiny)
    assert res3.supersteps > 0
    assert {r.id: r.component for r in res3.components.collect()} == \
        connected_components_oracle(e)


@pytest.mark.parametrize("seed", [11, 29, 47])
def test_cc_property_random_graphs(spark, seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(50, 150))
    m = int(rng.integers(n, 4 * n))
    e = sorted({(int(a), int(b)) for a, b in
                zip(rng.integers(0, n, m), rng.integers(0, n, m)) if a != b})
    df = spark.createDataFrame(e, "src long, dst long")
    params = GraphParams(num_partitions=4, max_iters=60, checkpoint_interval=6)
    got = {r.id: r.component for r in
           connected_components(spark, df, params=params).components.collect()}
    assert got == connected_components_oracle(e)
    assert triangle_count(spark, df, params) == triangle_count_oracle(e)


@pytest.mark.parametrize("algo", ["pagerank", "components", "labels"])
def test_empty_edge_table_converges_at_once(spark, algo):
    """An empty state has converged: each metric aggregate is NULL over
    zero rows, which must not read as "not converged" (CC would run
    max_iters supersteps over no rows), and PageRank over zero vertices
    returns no ranks instead of dividing by N = 0."""
    empty = spark.createDataFrame([], "src long, dst long")
    params = GraphParams(num_partitions=2, max_iters=6, lpa_max_iters=6)
    run, out = {
        "pagerank": (pagerank, "ranks"),
        "components": (connected_components, "components"),
        "labels": (label_propagation, "labels"),
    }[algo]
    res = run(spark, empty, params=params)
    assert res.converged
    assert res.supersteps == (0 if algo == "pagerank" else 1)
    assert all(m["converged"] for m in res.metrics)
    assert getattr(res, out).count() == 0
    assert triangle_count(spark, empty, params) == 0


def test_label_propagation_exact(spark, edges):
    e, df = edges
    expect, _ = label_propagation_oracle(e, max_iters=PARAMS.lpa_max_iters)
    res = label_propagation(spark, df, params=PARAMS)
    got = {r.id: r.label for r in res.labels.collect()}
    assert got == expect


def test_triangle_count_exact(spark, edges):
    e, df = edges
    assert triangle_count(spark, df, PARAMS) == triangle_count_oracle(e)


def test_triangle_count_small_known(spark):
    # K4 has 4 triangles; plus a disjoint path with none
    e = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (10, 11), (11, 12)]
    df = spark.createDataFrame(e, "src long, dst long")
    assert triangle_count(spark, df, PARAMS) == 4
    per_v = {r.id: r.triangles for r in
             triangle_count_per_vertex(spark, df, PARAMS).collect()}
    assert per_v == {0: 3, 1: 3, 2: 3, 3: 3}


def test_determinism_across_partitionings(spark, edges):
    e, df = edges
    p2 = GraphParams(num_partitions=2, checkpoint_interval=4,
                     max_iters=8, tol=0.0)
    p8 = GraphParams(num_partitions=8, checkpoint_interval=4,
                     max_iters=8, tol=0.0)
    cc2 = {r.id: r.component for r in
           connected_components(spark, df, params=p2).components.collect()}
    cc8 = {r.id: r.component for r in
           connected_components(spark, df, params=p8).components.collect()}
    assert cc2 == cc8
    lp2 = {r.id: r.label for r in
           label_propagation(spark, df, params=p2).labels.collect()}
    lp8 = {r.id: r.label for r in
           label_propagation(spark, df, params=p8).labels.collect()}
    assert lp2 == lp8
    pr2 = {r.id: r.rank for r in pagerank(spark, df, p2).ranks.collect()}
    pr8 = {r.id: r.rank for r in pagerank(spark, df, p8).ranks.collect()}
    for node in pr2:
        assert pr2[node] == pytest.approx(pr8[node], abs=1e-9)


def test_superstep_releases_replaced_states(spark):
    """After 12 supersteps without a checkpoint dir, Spark's storage holds
    at most the run's final state and adjacency: every state a superstep
    replaced was released, and no release logged a warning."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long")
    params = GraphParams(num_partitions=4, max_iters=12)
    sc = spark.sparkContext._jsc.sc()

    def stored():
        return {info.id() for info in sc.getRDDStorageInfo()}

    log4j = spark._jvm.org.apache.logging.log4j
    warnings = spark._jvm.java.io.StringWriter()
    appender = (log4j.core.appender.WriterAppender.newBuilder()
                .setName("superstep-release-probe").setTarget(warnings)
                .build())
    root = log4j.LogManager.getRootLogger()
    appender.start()
    root.addAppender(appender)
    try:
        before = stored()
        res = connected_components(spark, edges, params=params)
        after = stored()
    finally:
        root.removeAppender(appender)
        appender.stop()
    assert res.supersteps == 12 and not res.converged
    final = res.components._jdf.queryExecution().analyzed().child().rdd()
    assert final.id() in after
    assert len(after - before) <= 2
    assert str(warnings.toString()) == ""


def test_triangle_count_runs_one_job(spark, edges):
    e, df = edges
    df.count()
    tri, jobs = jobs_of(spark, lambda: triangle_count(spark, df, PARAMS))
    assert (tri, jobs) == (triangle_count_oracle(e), 1)


def test_pagerank_runs_one_job_per_action(spark, edges, tmp_ckpt):
    """A fresh PageRank of k supersteps and c checkpoints is 2 + k + c
    jobs (heavy-hub broadcast, init action, supersteps, checkpoint
    writes): no dangling-seed action and no lineage job.  A resume adds no
    schema-inference job, and refuses, before any job, a checkpoint whose
    lineage.json records no schema."""
    _, df = edges
    df.count()
    params = GraphParams(num_partitions=8, checkpoint_interval=2,
                         max_iters=4, tol=0.0)

    def run(resume):
        return pagerank(spark, df, params, checkpoint_dir=tmp_ckpt,
                        resume=resume)

    full, jobs = jobs_of(spark, lambda: run(False))
    assert (full.supersteps, jobs) == (4, 2 + 4 + 2)
    expect = {r.id: r.rank for r in full.ranks.collect()}

    last = os.path.join(tmp_ckpt, "superstep=3")
    shutil.rmtree(last)
    resumed, jobs = jobs_of(spark, lambda: run(True))
    # supersteps 2 and 3, one checkpoint (superstep=3)
    assert (resumed.metrics[0]["superstep"], resumed.supersteps) == (2, 4)
    assert jobs == 2 + 2 + 1
    got = {r.id: r.rank for r in resumed.ranks.collect()}
    assert got.keys() == expect.keys()
    for node, r in expect.items():
        assert got[node] == pytest.approx(r, abs=1e-12), node

    lineage_file = os.path.join(tmp_ckpt, "superstep=1", "lineage.json")
    with open(lineage_file) as f:
        lineage = json.load(f)
    del lineage["schema"]
    with open(lineage_file, "w") as f:
        json.dump(lineage, f)
    shutil.rmtree(last)

    def refused():
        with pytest.raises(ValueError, match="superstep=1.*records no schema"):
            SuperstepDriver(spark, params, tmp_ckpt).run(
                full.ranks, None, params.max_iters)

    assert jobs_of(spark, refused)[1] == 0


@pytest.mark.parametrize("graph", ["hub", "tiny"])
def test_checkpoint_lineage_matches_state_partitions(spark, edges, tmp_ckpt,
                                                     graph):
    """The lineage of a checkpoint is the returned state's rows per
    partition, empty partitions omitted, summing to the snapshot's rows;
    the tiny graph leaves most of the 8 partitions empty."""
    df = (edges[1] if graph == "hub" else
          spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long"))
    params = GraphParams(num_partitions=8, checkpoint_interval=3,
                         max_iters=6, tol=0.0)
    res = pagerank(spark, df, params, checkpoint_dir=tmp_ckpt)
    assert res.supersteps == 6
    last = os.path.join(tmp_ckpt, "superstep=5")
    with open(os.path.join(last, "lineage.json")) as f:
        lineage = json.load(f)
    counted = (res.ranks
               .groupBy(F.spark_partition_id().alias("partition_id"))
               .agg(F.count("*").alias("rows")).collect())
    assert (sorted((p["partition_id"], p["rows"])
                   for p in lineage["partitions"])
            == sorted((r.partition_id, r.rows) for r in counted))
    assert all(p["rows"] > 0 for p in lineage["partitions"])
    assert (sum(p["rows"] for p in lineage["partitions"])
            == spark.read.parquet(os.path.join(last, "data")).count())
