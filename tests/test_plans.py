"""Physical-plan audits: the optimizations we rely on must actually appear
in the executed plans (pushdown, pruning, broadcast, shuffle-hash joins,
whole-stage codegen)."""

import pytest
from pyspark.sql import functions as F

from sbustreamspot_core_spark.config import GraphParams, StreamSpotParams
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


def operators_above_cache(df) -> list[str]:
    """Physical operator names of ``df``'s plan down to its cached inputs:
    an InMemoryTableScan is a leaf, so a cache's stored plan (built once,
    not re-executed by readers) is left out."""
    names, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        names.append(node.nodeName())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return names


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
    # pagerank()'s own step: format the first plan it returns inside
    # SuperstepDriver.run, i.e. under iterative_conf with the caches live (the
    # adjacency, whose build uses a one-time broadcast of heavy-degree
    # sources, must not be rebuilt per superstep)
    plans = []
    run = SuperstepDriver.run

    def spy_run(self, initial_state, step_fn, max_iters, resume=True):
        def step(state, k, prev):
            plan, aggs = step_fn(state, k, prev)
            if not plans:
                plans.append((plan_str(plan), operators_above_cache(plan)))
            return plan, aggs
        return run(self, initial_state, step, max_iters, resume)

    monkeypatch.setattr(SuperstepDriver, "run", spy_run)
    pagerank(spark, edges, GraphParams(num_partitions=4, max_iters=1))
    p, above_cache = plans[0]
    assert "ShuffledHashJoin" in p
    # no per-superstep broadcast rebuilds: everything above the cached
    # state and adjacency (InMemoryRelation holds build_links' one-time
    # heavy-hub broadcast in its *stored* plan, which is not re-executed)
    # must be broadcast-free
    assert "InMemoryRelation" in p  # the adjacency really is cached
    assert above_cache.count("InMemoryTableScan") == 3  # state x2, adjacency
    assert "BroadcastHashJoin" not in above_cache


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


def test_minhash_is_single_pass_arrow(spark):
    """Round-7: minhash signatures are ONE Arrow-batched map pass (guide
    §4.2) — no per-row Python (BatchEvalPython), no grouped-pandas shuffle
    (FlatMapGroupsInPandas), no aggregation exchange at all: the kernel
    emits exactly one row per doc, so the only allowed exchange is the
    adaptive round-robin fan-out for single-split inputs.  The former
    explode + 64-min-aggregate expression path was interpretation-bound
    (the n-gram transform lambda is a codegen fallback) and measured 2-7x
    slower; bit-identical math is pinned by
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


def test_adjacency_single_shuffle(spark):
    """A1 is one groupBy -> exactly one exchange in the plan."""
    edges = spark.createDataFrame(
        [(1, 1, "a", 2, "b", "t", 0)],
        "gid long, src_id long, src_type string, dst_id long, "
        "dst_type string, e_type string, seq long")
    p = plan_str(build_adjacency(edges))
    assert p.count("Exchange") <= 2  # hashpartitioning exchange (+AQE read)


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
