"""StreamSpot batch kernel vs the pure-Python oracle on the reference's own
published test graphs (test_edges.txt / test_bootstrap_clusters.txt)."""

import math

import pytest

from sbustreamspot_core_spark.config import ANOMALY, StreamSpotParams
from sbustreamspot_core_spark.functions.sketches import (
    sketch_bytes_to_bits,
)
from sbustreamspot_core_spark.operators.clustering import (
    assign_clusters,
    build_centroids,
)
from sbustreamspot_core_spark.operators.lsh import (
    bucket_star_edges,
    candidate_pairs,
    isolated_vs_others,
)
from sbustreamspot_core_spark.operators.shingles import (
    build_adjacency,
    build_chunk_counts,
    build_shingles,
)
from sbustreamspot_core_spark.operators.similarity import (
    all_pairs_sketch_similarity,
    shingle_cosine_pairs,
)
from sbustreamspot_core_spark.operators.sketch import sketch_bands, sketch_table
from sbustreamspot_core_spark.oracles import streamspot_oracle as oracle
from sbustreamspot_core_spark.rng import allocate_random_bits
from sbustreamspot_core_spark.sources.bootstrap import read_bootstrap_clusters
from sbustreamspot_core_spark.sources.edges import read_streamspot_edges

from .conftest import (
    REFERENCE_BOOTSTRAP,
    REFERENCE_EDGES,
    load_reference_edge_tuples,
    needs_reference,
)

PARAMS = StreamSpotParams(chunk_length=10, L=200, B=10, R=20)
SYN_PARAMS = StreamSpotParams(chunk_length=4, L=100, B=5, R=20)


@pytest.fixture(scope="module")
def edge_df(spark):
    return read_streamspot_edges(spark, REFERENCE_EDGES).cache()


@pytest.fixture(scope="module")
def oracle_graphs():
    by_gid = load_reference_edge_tuples()
    return {gid: oracle.build_graph(edges) for gid, edges in by_gid.items()}


@needs_reference
def test_edge_scan_roundtrip(spark, edge_df):
    rows = edge_df.orderBy("gid", "seq").collect()
    assert len(rows) == 12
    assert rows[0].src_id == 4 and rows[0].src_type == "a"
    # seq is dense per gid in file order
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r.seq)
    for gid, seqs in by_gid.items():
        assert seqs == list(range(len(seqs)))


@needs_reference
def test_shingles_match_oracle(spark, edge_df, oracle_graphs):
    shingles = build_shingles(build_adjacency(edge_df))
    got = {
        (r.gid, r.src_id, r.src_type): r.shingle
        for r in shingles.collect()
    }
    expect = {}
    for gid, g in oracle_graphs.items():
        for (src_id, src_type), out in g.items():
            expect[(gid, src_id, src_type)] = oracle.shingle_for_source(src_type, out)
    assert got == expect


@needs_reference
def test_chunk_counts_match_oracle(spark, edge_df, oracle_graphs):
    cc = build_chunk_counts(
        build_shingles(build_adjacency(edge_df)), PARAMS.chunk_length)
    got = {}
    for r in cc.collect():
        got.setdefault(r.gid, {})[r.chunk] = r.cnt
    for gid, g in oracle_graphs.items():
        sv = oracle.shingle_vector(g, PARAMS.chunk_length)
        assert got[gid] == dict(sv), gid


def _assert_sketches_match_oracle(edges, oracle_graphs, params):
    """``sketch_table``'s projection, sketch bits and bands of every graph
    equal the oracle's."""
    rows = {r.gid: r for r in sketch_table(edges, params).collect()}
    assert set(rows) == set(oracle_graphs)
    H = allocate_random_bits(params.L, params.chunk_length, params.seed)
    for gid, g in oracle_graphs.items():
        sv = oracle.shingle_vector(g, params.chunk_length)
        bits, proj = oracle.construct_sketch(sv, H)
        assert rows[gid].projection == proj, gid
        got_bits = sketch_bytes_to_bits([bytes(rows[gid].sketch)], params.L)[0]
        assert got_bits.tolist() == bits, gid
        assert rows[gid].bands == oracle.lsh_bands(bits, params.B, params.R), gid


@needs_reference
def test_sketches_match_oracle(spark, edge_df, oracle_graphs):
    _assert_sketches_match_oracle(edge_df, oracle_graphs, PARAMS)


def test_sketches_match_oracle_on_synthetic_sample(spark, synthetic_sample):
    edges_path, _ = synthetic_sample
    graphs = {gid: oracle.build_graph(edges) for gid, edges
              in load_reference_edge_tuples(edges_path).items()}
    _assert_sketches_match_oracle(
        read_streamspot_edges(spark, edges_path), graphs, SYN_PARAMS)


@needs_reference
def test_all_pairs_similarity_matches_oracle(spark, edge_df, oracle_graphs):
    sk = sketch_table(edge_df, PARAMS)
    sims = {
        (r.gid_a, r.gid_b): r.similarity
        for r in all_pairs_sketch_similarity(sk, PARAMS).collect()
    }
    H = allocate_random_bits(PARAMS.L, PARAMS.chunk_length, PARAMS.seed)
    obits = {}
    for gid, g in oracle_graphs.items():
        sv = oracle.shingle_vector(g, PARAMS.chunk_length)
        obits[gid], _ = oracle.construct_sketch(sv, H)
    for (a, b), s in sims.items():
        assert s == pytest.approx(oracle.similarity(obits[a], obits[b]))
    # graphs 1 and 2 share the same shingle multiset -> identical sketches
    assert sims[(1, 2)] == pytest.approx(1.0)


@needs_reference
def test_exact_cosine_matches_oracle(spark, edge_df, oracle_graphs):
    cc = build_chunk_counts(
        build_shingles(build_adjacency(edge_df)), PARAMS.chunk_length)
    got = {(r.gid_a, r.gid_b): r.cosine for r in shingle_cosine_pairs(cc).collect()}
    svs = {gid: oracle.shingle_vector(g, PARAMS.chunk_length)
           for gid, g in oracle_graphs.items()}
    for (a, b), cos_got in got.items():
        sva, svb = svs[a], svs[b]
        dot = sum(c * svb.get(k, 0) for k, c in sva.items())
        na = math.sqrt(sum(c * c for c in sva.values()))
        nb = math.sqrt(sum(c * c for c in svb.values()))
        assert cos_got == pytest.approx(dot / (na * nb))
    # identical graphs 1,2 -> cosine exactly 1
    assert got[(1, 2)] == pytest.approx(1.0)


@needs_reference
def test_bootstrap_clustering_matches_oracle(spark, edge_df, oracle_graphs):
    boot = read_bootstrap_clusters(REFERENCE_BOOTSTRAP)
    assert boot.clusters == [[0], [1]]
    assert boot.global_threshold == pytest.approx(0.6)

    sk = sketch_table(edge_df, PARAMS).cache()
    membership = boot.to_df(spark)
    centroids = build_centroids(sk, membership, PARAMS)
    thresholds = membership.select("cluster_id", "threshold").distinct()
    assigned = assign_clusters(sk, centroids, thresholds,
                               boot.global_threshold, PARAMS)
    got = {r.gid: (r.cluster_id, r.anomaly_score) for r in assigned.collect()}

    # oracle centroids + assignment
    H = allocate_random_bits(PARAMS.L, PARAMS.chunk_length, PARAMS.seed)
    projections, obits = {}, {}
    for gid, g in oracle_graphs.items():
        sv = oracle.shingle_vector(g, PARAMS.chunk_length)
        obits[gid], projections[gid] = oracle.construct_sketch(sv, H)
    cent_bits, _ = oracle.centroid_sketches(projections, boot.clusters)
    for gid in oracle_graphs:
        dists = [oracle.distance(oracle.similarity(obits[gid], cb))
                 for cb in cent_bits]
        min_d = min(dists)
        nearest = dists.index(min_d)
        expect_cluster = (
            ANOMALY
            if min_d > min(boot.global_threshold, boot.thresholds[nearest])
            else nearest
        )
        assert got[gid][0] == expect_cluster, gid
        assert got[gid][1] == pytest.approx(min_d), gid


@needs_reference
def test_lsh_candidates_and_isolation(spark, edge_df, oracle_graphs):
    sk = sketch_table(edge_df, PARAMS).cache()
    bands = sketch_bands(sk, PARAMS).cache()
    pairs = {(r.gid_a, r.gid_b) for r in candidate_pairs(bands).collect()}
    # identical sketches (gids 1,2) must share all buckets
    assert (1, 2) in pairs

    H = allocate_random_bits(PARAMS.L, PARAMS.chunk_length, PARAMS.seed)
    obits = {}
    for gid, g in oracle_graphs.items():
        sv = oracle.shingle_vector(g, PARAMS.chunk_length)
        obits[gid], _ = oracle.construct_sketch(sv, H)
    expect_pairs = set()
    obands = {g: oracle.lsh_bands(b, PARAMS.B, PARAMS.R) for g, b in obits.items()}
    gids = sorted(obits)
    for i, a in enumerate(gids):
        for b in gids[i + 1:]:
            if any(x == y for x, y in zip(obands[a], obands[b])):
                expect_pairs.add((a, b))
    assert pairs == expect_pairs

    _assert_isolation_matches_oracle(bands, obits, PARAMS)


def _assert_isolation_matches_oracle(bands, obits, params):
    """``isolated_vs_others`` vs the oracle's per-gid test: each gid's
    sketch queried against tables built from the *other* gids' sketches.
    Returns the oracle's verdicts."""
    isolated = {r.gid for r in isolated_vs_others(bands).collect()}
    expect = {}
    for gid in sorted(obits):
        expect[gid] = oracle.is_isolated(
            obits[gid], {g: b for g, b in obits.items() if g != gid},
            params.B, params.R)
        assert (gid in isolated) == expect[gid], gid
    return expect


def test_isolation_matches_oracle_on_synthetic_sample(spark, synthetic_sample):
    edges_path, _ = synthetic_sample
    bands = sketch_bands(
        sketch_table(read_streamspot_edges(spark, edges_path), SYN_PARAMS),
        SYN_PARAMS)
    H = allocate_random_bits(SYN_PARAMS.L, SYN_PARAMS.chunk_length,
                             SYN_PARAMS.seed)
    obits = {}
    for gid, edges in load_reference_edge_tuples(edges_path).items():
        sv = oracle.shingle_vector(oracle.build_graph(edges),
                                   SYN_PARAMS.chunk_length)
        obits[gid], _ = oracle.construct_sketch(sv, H)
    expect = _assert_isolation_matches_oracle(bands, obits, SYN_PARAMS)
    # the sample exercises both verdicts
    assert set(expect.values()) == {True, False}


def test_bucket_star_edges_connectivity_equals_full_pairs(spark):
    """The star pair graph's connected components equal the full co-bucket
    self-join's on randomized banded tables — the contract that lets
    lsh_clusters feed CC O(rows) edges instead of O(bucket^2) pairs."""
    import random

    def partitions(edge_set, nodes):
        parent = {v: v for v in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_set:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        groups = {}
        for v in nodes:
            groups.setdefault(find(v), set()).add(v)
        return frozenset(frozenset(g) for g in groups.values())

    rng = random.Random(7)
    for trial in range(4):
        rows = [(gid, bi, str(rng.randrange(6)))
                for gid in range(30) for bi in range(4)]
        bands = spark.createDataFrame(
            rows, "gid long, band_idx int, band_val string")
        full = {(r.gid_a, r.gid_b)
                for r in candidate_pairs(bands).collect()}
        star = {(r.src, r.dst) for r in bucket_star_edges(bands).collect()}
        assert len(star) <= len(rows)          # O(rows), never quadratic
        nodes = set(range(30))
        assert partitions(star, nodes) == partitions(full, nodes), trial
