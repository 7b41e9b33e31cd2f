"""End-to-end web pipeline: pages -> text/href extraction -> edge table ->
host-level subgraphs -> StreamHash sketches -> LSH clustering -> anomaly flags.

This composes the north star: the StreamSpot kernel's gid becomes the source
host; node types are derived from url structure; the link-graph suite
(PageRank etc.) runs over the same edge table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import GraphParams, StreamSpotParams
from .functions.text import extract_hrefs_udf, extract_text_udf
from .graph.components import components_fn
from .operators.lsh import candidate_pairs, isolated_vs_others, lsh_clusters
from .operators.similarity import all_pairs_sketch_similarity
from .operators.sketch import sketch_bands, sketch_table

# Cap of the similarity prune's bucket self-join.  It is load-bearing at
# scale: a band bucket holding B near-identical hosts would otherwise force
# one task to emit B^2/2 pairs (a same-key self-join AQE cannot split).
# Above the cap, the similarities table contains the star-reduced pair
# subset — every member appears, but member-member pairs of a hot bucket
# surface only through lsh_clusters (which is cluster-exact).
SIMILARITY_PRUNE_CAP = 10_000


def extract_link_edges(pages: DataFrame) -> DataFrame:
    """(src_url, dst_url, warc_ts, link_pos) href edge table (S6)."""
    links = pages.select(
        F.col("url").alias("src_url"), "warc_ts",
        F.posexplode(extract_hrefs_udf("html", "url")).alias("link_pos", "dst_url"),
    )
    return links.select("src_url", "dst_url", "warc_ts", "link_pos")


def with_extracted_text(pages: DataFrame) -> DataFrame:
    """Recompute ``text`` from html (S5); byte-identity is test-asserted."""
    return pages.withColumn("text", extract_text_udf("html"))


def host_of(col):
    """Host extraction via the built-in parse_url (JVM-side)."""
    return F.parse_url(col, F.lit("HOST"))


def encode_url_ids(edges: DataFrame,
                   assume_non_null: bool = False) -> DataFrame:
    """Encode urls to long ids (src, dst, src_url, dst_url).

    Ids are xxhash64(url): a pure column expression — NO url dictionary,
    NO distinct, NO joins, zero shuffles — run-to-run stable, and the only
    sane choice at 10^9+ urls (a 64-bit collision is acceptable,
    p ~ n^2/2^65; building a distinct-url id table just to join it back
    would add three full-corpus shuffles).

    Null urls are dropped: without the explicit filter every null would
    map to xxhash64(NULL) = the seed constant — one phantom mega-hub
    absorbing all null rows in downstream graphs.
    ``assume_non_null=True`` skips the filter when the CALLER
    guarantees non-null urls (e.g. urls built by concat of non-null parts,
    as in the href-extraction pipeline).  The guarantee matters for more
    than the predicate's own cost: constraint inference propagates
    ``isnotnull`` through the url derivation chain and materializes extra
    Filter stages below the Arrow-UDF extraction and after the href
    explode — measured ~8% on the 20k-page web pipeline benchmark.
    """
    if not assume_non_null:
        edges = edges.filter(F.col("src_url").isNotNull()
                             & F.col("dst_url").isNotNull())
    return (edges
            .withColumn("src", F.xxhash64("src_url"))
            .withColumn("dst", F.xxhash64("dst_url")))


def host_subgraph_edges(link_edges: DataFrame) -> DataFrame:
    """StreamSpot-format edge table with gid := src host id.

    Node "types" are 1-char codes from url structure: 'r' for a host root
    page (path p0), 'p' otherwise; edge type 'i' for intra-host links,
    'x' for cross-host (deterministic, derived purely from the urls).

    Host and url ids are xxhash64 (shuffle-free, no global sort).
    """
    e = (
        link_edges
        .withColumn("src_host", host_of(F.col("src_url")))
        .withColumn("dst_host", host_of(F.col("dst_url")))
        .withColumn("gid", F.xxhash64("src_host"))
    )
    typ = lambda c: F.when(c.endswith("/p0.html"), F.lit("r")).otherwise(F.lit("p"))
    # non-null vouched: dst_url elements are urljoin results of non-empty
    # href targets (extract_hrefs_bytes never emits null), and src_url is
    # the page url no edge row can carry as null (a null-url page yields no
    # href rows) — skipping the filter keeps constraint inference from
    # materializing isnotnull Filter stages around the Arrow extraction UDF
    with_ids = encode_url_ids(
        e.select("src_url", "dst_url", "warc_ts", "link_pos", "src_host",
                 "dst_host", "gid"),
        assume_non_null=True)
    seq = F.row_number().over(
        Window.partitionBy("gid").orderBy("warc_ts", "src_url", "link_pos")) - 1
    return with_ids.select(
        F.col("src").alias("src_id"),
        typ(F.col("src_url")).alias("src_type"),
        F.col("dst").alias("dst_id"),
        typ(F.col("dst_url")).alias("dst_type"),
        F.when(F.col("src_host") == F.col("dst_host"), F.lit("i"))
        .otherwise(F.lit("x")).alias("e_type"),
        "gid",
        seq.cast("long").alias("seq"),
    )


def host_anomaly_pipeline(spark: SparkSession, pages: DataFrame,
                          params: StreamSpotParams,
                          graph_params: GraphParams = GraphParams()) -> dict:
    """Full north-star flow.  Returns dict of result DataFrames:
    sketches, lsh_clusters (host-level), anomalies (isolated hosts),
    similarities (LSH-pruned pairs).

    Host/url ids are hash-based — no global sort anywhere in the hot path.
    The similarity prune's bucket self-join is capped at
    ``SIMILARITY_PRUNE_CAP``, above which the similarities table holds the
    star-reduced pair subset."""
    link_edges = extract_link_edges(pages)
    ss_edges = host_subgraph_edges(link_edges).cache()
    sketches = sketch_table(ss_edges, params).cache()
    bands = sketch_bands(sketches, params).cache()
    clusters = lsh_clusters(bands, components_fn(spark, graph_params))
    anomalies = isolated_vs_others(bands)
    sims = all_pairs_sketch_similarity(
        sketches, params,
        lsh_prune=candidate_pairs(bands,
                                  max_bucket_size=SIMILARITY_PRUNE_CAP))
    return {
        "edges": ss_edges,
        "sketches": sketches,
        "bands": bands,
        "lsh_clusters": clusters,
        "anomalies": anomalies,
        "similarities": sims,
    }
