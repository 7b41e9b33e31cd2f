"""Physical-plan audits: the optimizations we rely on must actually appear
in the executed plans (pushdown, pruning, broadcast, shuffle-hash joins,
whole-stage codegen)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sbustreamspot_core_spark.config import GraphParams, StreamSpotParams
from sbustreamspot_core_spark.graph.components import connected_components
from sbustreamspot_core_spark.graph.labelprop import label_propagation
from sbustreamspot_core_spark.graph.pagerank import pagerank
from sbustreamspot_core_spark.graph.superstep import SuperstepDriver
from sbustreamspot_core_spark.operators.clustering import (
    graph_centroid_distances,
)
from sbustreamspot_core_spark.operators.shingles import (
    build_adjacency,
    build_chunk_counts,
    build_shingles,
)

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def plan_nodes(plan) -> list:
    """Every node of a JVM Catalyst plan (logical or physical)."""
    nodes, todo = [], [plan]
    while todo:
        node = todo.pop()
        nodes.append(node)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return nodes


def spy_steps(monkeypatch, record):
    """Calls ``record(state, plan)`` for every superstep plan a graph
    algorithm's own step returns, inside ``SuperstepDriver.run`` (under
    ``iterative_conf``, with the state and adjacency leaves live)."""
    run = SuperstepDriver.run

    def spy_run(self, initial_state, step_fn, max_iters, resume=True):
        def step(state, k, prev):
            plan, aggs = step_fn(state, k, prev)
            record(state, plan)
            return plan, aggs
        return run(self, initial_state, step, max_iters, resume)

    monkeypatch.setattr(SuperstepDriver, "run", spy_run)


def test_parquet_filter_pushdown_and_pruning(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.filter(F.col("doc_id") < 60).select("doc_id", "lang")
    p = plan_str(q)
    assert "PushedFilters" in p and "LessThan(doc_id,60)" in p.replace(" ", "")
    # column pruning: text (the big column) must NOT be read
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema
    assert "doc_id" in read_schema and "lang" in read_schema


def test_centroid_distance_join_is_broadcast(spark):
    params = StreamSpotParams(chunk_length=8, L=100, B=5, R=20)
    sketches = spark.createDataFrame(
        [(1, bytes(13)), (2, bytes(13))], "gid long, sketch binary")
    centroids = spark.createDataFrame(
        [(0, bytes(13))], "cluster_id int, sketch binary")
    p = plan_str(graph_centroid_distances(sketches, centroids, params))
    assert "Broadcast" in p  # J3: centroids broadcast, no shuffle


def test_pagerank_superstep_uses_shuffled_hash_join(spark, monkeypatch):
    edges = spark.createDataFrame(
        [(i % 50, (i * 7) % 50) for i in range(500)], "src long, dst long")
    plans = []

    def record(state, plan):
        nodes = plan_nodes(plan._jdf.queryExecution().executedPlan())
        leaves = [n.rdd() for n in nodes if n.children().size() == 0]
        plans.append((state._jdf.queryExecution().analyzed().rdd().id(),
                      [n.nodeName() for n in nodes],
                      [(r.id(), r.getStorageLevel().useMemory())
                       for r in leaves]))

    spy_steps(monkeypatch, record)
    # num_partitions differs from the session's 8 shuffle partitions
    pagerank(spark, edges, GraphParams(num_partitions=4, max_iters=1))
    state_rdd, names, leaves = plans[0]
    assert "ShuffledHashJoin" in names
    # no per-superstep broadcast rebuilds: build_links' one-time heavy-hub
    # broadcast lives in the adjacency leaf's stored plan
    assert "BroadcastHashJoin" not in names
    # the step reads the state twice and the adjacency once, each an
    # in-memory leaf (a local checkpoint, not a re-derived plan)
    assert len(leaves) == 3
    assert [rdd for rdd, _ in leaves].count(state_rdd) == 2
    assert all(in_memory for _, in_memory in leaves)
    # the contribution aggregation is the one exchange: the state and the
    # adjacency keep their hash partitioning at num_partitions
    assert names.count("Exchange") == 1


@pytest.mark.parametrize("with_ckpt", [False, True])
def test_superstep_plans_are_constant_size(spark, monkeypatch, tmp_ckpt,
                                           with_ckpt):
    """Six supersteps of PageRank, CC and LPA, with no checkpoint dir and
    with parquet checkpoints every 2 supersteps: every step's analyzed plan
    has the node count of superstep 1, and every executed step (the first
    one and the ones after a checkpoint too) has the steady-state Exchange
    count, the message aggregation's only (LPA: its two), and no runtime
    filter.  With checkpoints, dropping the last one and resuming from
    superstep 3 gives the same plans: the resumed state keeps the hash
    partitioning of a straight run."""
    # a 20-vertex path: Hash-Min needs 20 supersteps and LPA keeps shifting
    # labels, so 6 supersteps never converge.  Cached, as callers pass edges:
    # the leaves' size estimates then start small and compound per step,
    # which is what makes the optimizer want a runtime filter
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "src long, dst long").cache()
    edges.count()
    params = GraphParams(num_partitions=4, max_iters=6, lpa_max_iters=6,
                         tol=0.0, checkpoint_interval=2)
    steps = []

    def record(state, plan):
        qe = plan._jdf.queryExecution()
        executed = plan_nodes(qe.executedPlan())
        steps.append((len(plan_nodes(qe.analyzed())),
                      [n.nodeName() for n in executed].count("Exchange"),
                      # a runtime bloom filter is one more job per step
                      any("might_contain" in n.verboseString(1000)
                          for n in executed)))

    spy_steps(monkeypatch, record)

    def ckpt(name):
        return os.path.join(tmp_ckpt, name) if with_ckpt else None

    for name, exchanges, run in (
            ("pr", 1, lambda: pagerank(spark, edges, params,
                                       checkpoint_dir=ckpt("pr"))),
            ("cc", 1, lambda: connected_components(
                spark, edges, params=params, checkpoint_dir=ckpt("cc"))),
            ("lp", 2, lambda: label_propagation(spark, edges, params,
                                                checkpoint_dir=ckpt("lp")))):
        steps.clear()
        assert run().supersteps == 6
        steady = (steps[0][0], exchanges, False)
        assert steps == [steady] * 6
        if with_ckpt:
            last = os.path.join(tmp_ckpt, name, "superstep=5")
            assert os.path.exists(os.path.join(last, "_COMPLETE"))
            shutil.rmtree(last)
            steps.clear()
            assert run().supersteps == 6
            assert steps == [steady] * 2       # supersteps 4 and 5


def test_shingle_pipeline_is_codegen(spark):
    """The shingle/chunk path must stay inside whole-stage codegen (pure
    column expressions, no Python in the hot path)."""
    edges = spark.createDataFrame(
        [(1, 1, "a", 2, "b", "t", 0)],
        "gid long, src_id long, src_type string, dst_id long, "
        "dst_type string, e_type string, seq long")
    cc = build_chunk_counts(build_shingles(build_adjacency(edges)), 4)
    p = plan_str(cc)
    # pure JVM column expressions: no Python eval nodes anywhere
    # (collect_list forces ObjectHashAggregate, which is still JVM-side)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "HashAggregate" in p and "Generate" in p


def test_position_explodes_have_no_lambda(spark):
    """Every position-indexed explode is an int-sequence Generate with the
    substring/arithmetic in the projection: a lambda inside a Generate is a
    codegen fallback that takes the whole stage off whole-stage codegen."""
    from sbustreamspot_core_spark.operators.dedup import (
        char_shingles, minhash_bands, ngram_jaccard_pairs, simhash64,
        simhash_bands)
    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghik")], "doc_id long, text string")
    sigs = spark.createDataFrame(
        [(1, list(range(8)))], "id long, sig array<long>")
    sketches = spark.createDataFrame([(1, 12345)], "id long, simhash long")
    edges = spark.createDataFrame(
        [(1, 1, "a", 2, "b", "t", 0)],
        "gid long, src_id long, src_type string, dst_id long, "
        "dst_type string, e_type string, seq long")
    for name, df in (
            ("char_shingles", char_shingles(docs, 3)),
            ("ngram_jaccard_pairs", ngram_jaccard_pairs(docs, 3)),
            ("simhash64", simhash64(docs, 3)),
            ("simhash_bands", simhash_bands(sketches)),
            ("minhash_bands", minhash_bands(sigs, bands=4)),
            ("build_chunk_counts", build_chunk_counts(
                build_shingles(build_adjacency(edges)), 4))):
        generates = [n.verboseString(1000) for n in plan_nodes(
            df._jdf.queryExecution().optimizedPlan())
            if n.nodeName() == "Generate"]
        assert generates, name
        assert not any("lambdafunction" in g for g in generates), \
            (name, generates)


def test_minhash_is_single_pass_arrow(spark):
    """Round-7: minhash signatures are ONE Arrow-batched map pass (guide
    §4.2) — no per-row Python (BatchEvalPython), no grouped-pandas shuffle
    (FlatMapGroupsInPandas), no aggregation exchange at all: the kernel
    emits exactly one row per doc, so the only allowed exchange is the
    adaptive round-robin fan-out for single-split inputs.  The former
    explode + 64-min-aggregate expression path was interpretation-bound
    (its n-gram explode was then a transform lambda, a codegen fallback)
    and measured 2-7x slower; bit-identical math is pinned by
    test_training_ops.test_minhash_kernel_matches_expression_path."""
    from sbustreamspot_core_spark.operators.dedup import minhash_signatures
    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghik")], "doc_id long, text string")
    p = plan_str(minhash_signatures(docs, num_hashes=8, n=3))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "FlatMapGroupsInPandas" not in p
    assert "MapInPandas" in p
    assert "HashAggregate" not in p      # no agg pass left
    assert p.count("hashpartitioning") == 0   # no keyed shuffle


def shuffles(df) -> int:
    """Runs ``df``, then counts the shuffles of the plan it ran (AQE's
    final plan, re-planned once a cached input's partitioning is known);
    a cached input is a leaf."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    assert "isFinalPlan=true" in plan.toString()
    count, todo = 0, [plan.executedPlan()]
    while todo:
        nodes = plan_nodes(todo.pop())
        count += [n.nodeName() for n in nodes].count("Exchange")
        # a query stage is a leaf that wraps the plan it ran
        todo.extend(n.plan() for n in nodes
                    if n.nodeName().endswith("QueryStage"))
    return count


def test_adjacency_single_shuffle(spark):
    """A1 is one groupBy -> exactly one exchange in the plan; the whole
    edges -> sketches chain is one shuffle on ``gid`` too."""
    from sbustreamspot_core_spark.operators.sketch import (
        build_sketches, sketch_table)
    from sbustreamspot_core_spark.pipeline import host_subgraph_edges
    edges = spark.createDataFrame(
        [(1, 1, "a", 2, "b", "t", 0)],
        "gid long, src_id long, src_type string, dst_id long, "
        "dst_type string, e_type string, seq long")
    p = plan_str(build_adjacency(edges))
    assert p.count("Exchange") <= 2  # hashpartitioning exchange (+AQE read)

    params = StreamSpotParams(chunk_length=4, L=100, B=5, R=20)
    edges = spark.createDataFrame(
        [(g, s, "a", s + 1, "b", "t", s) for g in range(3) for s in range(4)],
        edges.schema)
    assert shuffles(sketch_table(edges, params)) == 1
    # the pieces alone shuffle per grouping: adjacency, chunk counts, sketch
    assert shuffles(build_sketches(build_chunk_counts(build_shingles(
        build_adjacency(edges)), params.chunk_length), params)) == 3

    # the web pipeline's cached edges are already hash-partitioned on gid
    # (host_subgraph_edges' window): once AQE sees the cached partitioning
    # the chain runs with no Exchange above the cache
    links = spark.createDataFrame(
        [(f"http://h{i % 3}/p{i}.html", f"http://h{i % 2}/p0.html", i, 0)
         for i in range(12)],
        "src_url string, dst_url string, warc_ts long, link_pos int")
    cached = host_subgraph_edges(links).cache()
    try:
        assert shuffles(sketch_table(cached, params)) == 0
    finally:
        cached.unpersist()


def test_hash_url_ids_are_shuffle_free(spark):
    """Round-4: encode_url_ids' hash path must be a pure column expression
    — no url-dictionary distinct, no joins, ZERO exchanges (at 10^9 urls a
    dictionary build is three full-corpus shuffles)."""
    from sbustreamspot_core_spark.pipeline import encode_url_ids
    edges = spark.createDataFrame(
        [("http://a/x", "http://b/y", 0, 0)],
        "src_url string, dst_url string, warc_ts long, link_pos int")
    p = plan_str(encode_url_ids(edges))
    assert "Exchange" not in p
    assert "Join" not in p
    assert "xxhash64" in p.lower()


def test_incremental_dedup_plan_is_jvm_side(spark):
    """Round-5: the incremental candidate path must stay in JVM column
    expressions (no Python eval anywhere), and the hot-index-bucket
    machinery must BROADCAST the tiny hot-key/hub tables rather than
    shuffling the band index against them."""
    from sbustreamspot_core_spark.operators.dedup import (
        incremental_lsh_candidates,
    )
    idx = spark.createDataFrame(
        [(i, i % 4, f"k{i % 8}") for i in range(64)],
        "id long, band_idx int, band_key string")
    new = spark.createDataFrame(
        [(100 + i, i % 4, f"k{i % 8}") for i in range(16)],
        "id long, band_idx int, band_key string")
    # Only the test's own createDataFrame scan mentions Python
    # (applySchemaToPythonRDD); no EVAL node may appear.
    eval_nodes = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                  "FlatMapGroupsInPandas")
    p = plan_str(incremental_lsh_candidates(idx, new, max_bucket_size=4))
    assert not any(n in p for n in eval_nodes)
    assert "BroadcastExchange" in p     # hot-key + hub tables broadcast
    p2 = plan_str(incremental_lsh_candidates(idx, new))
    assert not any(n in p2 for n in eval_nodes)
