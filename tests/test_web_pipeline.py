"""Web front end: pages generation, byte-identical text extraction, href
edge extraction, host subgraphs, end-to-end host anomaly pipeline, and
PageRank over the extracted link graph vs the oracle."""

import pytest
from pyspark.sql import functions as F

from sbustreamspot_core_spark.config import GraphParams, StreamSpotParams
from sbustreamspot_core_spark.graph.pagerank import pagerank
from sbustreamspot_core_spark.oracles.graph_oracle import pagerank_oracle
from sbustreamspot_core_spark.pipeline import (
    encode_url_ids,
    extract_link_edges,
    host_anomaly_pipeline,
    host_subgraph_edges,
    with_extracted_text,
)
from sbustreamspot_core_spark.sources.pages import (
    expected_link_edges,
    generate_pages,
)

N_HOSTS, PPH, SEED = 6, 8, 42


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, N_HOSTS, PPH, SEED, num_partitions=4).cache()


def test_pages_deterministic(spark, pages):
    again = generate_pages(spark, N_HOSTS, PPH, SEED, num_partitions=2)
    a = {r.url: (bytes(r.html), r.text, r.lang) for r in pages.collect()}
    b = {r.url: (bytes(r.html), r.text, r.lang) for r in again.collect()}
    assert a == b
    assert len(a) == N_HOSTS * PPH


def test_text_extraction_byte_identical(spark, pages):
    """Per-row invariant (BASELINE.json input_hint): re-extracting text from
    html must be byte-identical to the stored text, across repeated runs."""
    run1 = {r.url: r.text for r in with_extracted_text(pages).collect()}
    run2 = {r.url: r.text for r in with_extracted_text(pages).collect()}
    stored = {r.url: r.text for r in pages.collect()}
    assert run1 == run2 == stored
    # sanity: tags/script/style stripped, entities decoded
    sample = next(iter(run1.values()))
    assert "<" not in sample and "var x" not in sample
    assert "&amp;" not in sample and "&" in sample


def test_href_edges_match_generator_oracle(spark, pages):
    got = {(r.src_url, r.dst_url)
           for r in extract_link_edges(pages).collect()}
    expect = set(expected_link_edges(N_HOSTS, PPH, SEED))
    assert got == expect


def test_url_id_encoding_deterministic(spark, pages):
    edges = extract_link_edges(pages)
    # default mode: hash ids — shuffle-free, still run-to-run stable
    ids1 = encode_url_ids(edges).select("src_url", "src").distinct().collect()
    ids2 = encode_url_ids(edges).select("src_url", "src").distinct().collect()
    assert {(r.src_url, r.src) for r in ids1} == {(r.src_url, r.src) for r in ids2}
    assert len({r.src for r in ids1}) == len({r.src_url for r in ids1})


def test_pagerank_over_extracted_graph(spark, pages):
    link_edges = extract_link_edges(pages)
    enc = encode_url_ids(link_edges).select("src", "dst").distinct().cache()
    e = [(r.src, r.dst) for r in enc.collect()]
    params = GraphParams(num_partitions=8, max_iters=12, tol=0.0,
                         checkpoint_interval=4)
    expect, _ = pagerank_oracle(e, damping=0.85, tol=0.0, max_iters=12)
    got = {r.id: r.rank
           for r in pagerank(spark, enc, params).ranks.collect()}
    for node, r in expect.items():
        assert got[node] == pytest.approx(r, abs=1e-6)
    # the mega-hub (host0/p0) must be the top-ranked page
    hub_rows = (encode_url_ids(link_edges)
                .filter(F.col("src_url") == "http://host0.example.com/p0.html")
                .select("src").distinct().collect())
    hub_id = hub_rows[0].src
    top = max(got, key=got.get)
    assert top == hub_id


def test_host_subgraph_edges_schema(spark, pages):
    from urllib.parse import urlparse

    link_edges = extract_link_edges(pages)
    rows = host_subgraph_edges(link_edges).collect()
    # hash ids: one gid per host, a different one for each host
    url_of = {r.src: r.src_url for r in
              encode_url_ids(link_edges).select("src", "src_url").collect()}
    gids_of_host = {}
    for r in rows:
        gids_of_host.setdefault(urlparse(url_of[r.src_id]).hostname,
                                set()).add(r.gid)
    assert len(gids_of_host) == N_HOSTS
    assert all(len(g) == 1 for g in gids_of_host.values())
    assert len({r.gid for r in rows}) == N_HOSTS
    assert {r.src_type for r in rows} <= {"r", "p"}
    assert {r.e_type for r in rows} <= {"i", "x"}
    # seq dense per gid
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r.seq)
    for gid, seqs in by_gid.items():
        assert sorted(seqs) == list(range(len(seqs)))


def test_host_anomaly_pipeline_end_to_end(spark, pages):
    params = StreamSpotParams(chunk_length=8, L=100, B=5, R=20)
    out = host_anomaly_pipeline(spark, pages, params,
                                GraphParams(num_partitions=4, max_iters=20))
    sk = out["sketches"].collect()
    assert len(sk) == N_HOSTS
    clusters = {r.gid: r.lsh_cluster for r in out["lsh_clusters"].collect()}
    assert len(clusters) == N_HOSTS
    anomalies = {r.gid for r in out["anomalies"].collect()}
    # anomalies are exactly the singleton LSH clusters
    from collections import Counter
    sizes = Counter(clusters.values())
    singletons = {g for g, c in clusters.items() if sizes[c] == 1}
    assert anomalies == singletons


def test_run_web_cli_summary_keys(spark, pages, tmp_ckpt, monkeypatch,
                                  capsys):
    """The spark-submit web CLI end-to-end in-process: its one-line JSON
    summary must carry the bucket-occupancy stats (the
    silent-degradation-visibility rule run_dedup already follows) plus
    the pipeline counts, and the parquet outputs must exist."""
    import importlib.util
    import json
    import os
    import sys

    job = os.path.join(os.path.dirname(__file__), "..", "jobs", "run_web.py")
    spec = importlib.util.spec_from_file_location("run_web_cli", job)
    run_web = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run_web)

    pages_path = os.path.join(tmp_ckpt, "cli_pages.parquet")
    pages.write.mode("overwrite").parquet(pages_path)
    out = os.path.join(tmp_ckpt, "cli_web_out")
    monkeypatch.setattr(sys, "argv", [
        "run_web.py", "--pages", pages_path, "--output", out,
        "--pagerank-iters", "3", "--partitions", "4"])
    run_web.main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["pages"] == N_HOSTS * PPH
    assert summary["host_sketches"] == N_HOSTS
    # occupancy stats present and sane: tiny corpus -> no hot buckets
    assert summary["band_rows"] > 0
    assert summary["star_hot_buckets"] == 0
    assert summary["star_hot_frac"] == 0.0
    assert summary["pagerank_supersteps"] >= 1
    for sub in ("sketches", "lsh_clusters", "anomalies", "pageranks",
                "link_edges"):
        assert spark.read.parquet(os.path.join(out, sub)).count() >= 0
