"""Web-pipeline CLI for spark-submit: Common-Crawl-style pages parquet ->
text/href extraction -> host-level StreamSpot sketches + LSH clusters +
isolation anomalies -> PageRank over the page link graph.

    spark-submit --py-files sbustreamspot_core_spark.zip jobs/run_web.py \
        --pages /path/pages.parquet --output /out \
        [--chunk-length 8] [--sketch-bits 1000] [--bands 50] \
        [--pagerank-iters 10] [--partitions 32] [--skip-pagerank]

Input schema (BASELINE.json input_hint): url string, warc_ts timestamp,
html binary, text string, lang string.  Outputs parquet under <out>/:
  sketches/ lsh_clusters/ anomalies/ pageranks/ link_edges/
and prints ONE JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from sbustreamspot_core_spark.config import GraphParams, StreamSpotParams
from sbustreamspot_core_spark.graph.pagerank import pagerank
from sbustreamspot_core_spark.pipeline import (
    SIMILARITY_PRUNE_CAP,
    encode_url_ids,
    extract_link_edges,
    host_anomaly_pipeline,
)
from sbustreamspot_core_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser(
        description="web pages -> host anomaly sketches + link-graph PageRank")
    ap.add_argument("--pages", required=True, help="pages parquet (url, warc_ts, html, text, lang)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--chunk-length", type=int, default=8)
    ap.add_argument("--sketch-bits", type=int, default=1000)
    ap.add_argument("--bands", type=int, default=50)
    ap.add_argument("--band-bits", type=int, default=20)
    ap.add_argument("--pagerank-iters", type=int, default=10)
    ap.add_argument("--skip-pagerank", action="store_true")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--checkpoint-dir", default=None,
                    help="PageRank superstep checkpoint/resume dir")
    args = ap.parse_args()

    spark = get_spark("web")
    n_part = args.partitions or spark.sparkContext.defaultParallelism
    pages = spark.read.parquet(args.pages).cache()
    summary: dict = {"pages": pages.count()}

    links = extract_link_edges(pages).cache()
    summary["link_edges"] = links.count()
    links.write.mode("overwrite").parquet(f"{args.output}/link_edges")

    res = host_anomaly_pipeline(
        spark, pages,
        StreamSpotParams(chunk_length=args.chunk_length, L=args.sketch_bits,
                         B=args.bands, R=args.band_bits),
        GraphParams(num_partitions=n_part, max_iters=30,
                    small_graph_threshold=65536))
    # bucket-occupancy visibility (same rule as run_dedup): lsh_clusters
    # runs star edges unconditionally — cluster-exact at any occupancy —
    # but the similarity prune is a CAPPED self-join, so report how much
    # candidate mass its cap would star-reduce instead of degrading
    # silently.  hot_frac near 1.0 = banding under-resolved for the corpus
    # (raise --sketch-bits / --bands before trusting pair-level output)
    from sbustreamspot_core_spark.operators.dedup import star_reduction_stats
    stats = star_reduction_stats(res["bands"], ["band_idx", "band_val"],
                                 SIMILARITY_PRUNE_CAP).first()
    summary["band_rows"] = stats["total_rows"]
    summary["star_hot_buckets"] = stats["hot_buckets"]
    summary["star_hot_frac"] = round(stats["hot_frac"] or 0.0, 6)

    res["sketches"].write.mode("overwrite").parquet(f"{args.output}/sketches")
    res["lsh_clusters"].write.mode("overwrite").parquet(
        f"{args.output}/lsh_clusters")
    res["anomalies"].write.mode("overwrite").parquet(f"{args.output}/anomalies")
    # summary counts read the just-written parquet — recounting the live
    # plans would re-run the CC superstep job and the anomaly anti-join
    summary["host_sketches"] = spark.read.parquet(
        f"{args.output}/sketches").count()
    summary["lsh_clusters"] = spark.read.parquet(
        f"{args.output}/lsh_clusters").select("lsh_cluster").distinct().count()
    summary["anomalous_hosts"] = spark.read.parquet(
        f"{args.output}/anomalies").count()

    if not args.skip_pagerank:
        # materialize first: pagerank init scans its input several times and
        # must not re-derive the href-extraction UDF plan per scan
        ids = encode_url_ids(links).select("src", "dst").cache()
        ids.count()
        pr = pagerank(spark, ids,
                      GraphParams(num_partitions=n_part,
                                  max_iters=args.pagerank_iters, tol=1e-6,
                                  checkpoint_interval=4),
                      checkpoint_dir=args.checkpoint_dir)
        pr.ranks.write.mode("overwrite").parquet(f"{args.output}/pageranks")
        summary["pagerank_supersteps"] = pr.supersteps
        summary["pagerank_converged"] = pr.converged
        top = pr.ranks.orderBy(F.desc("rank")).limit(1).collect()[0]
        summary["top_rank"] = round(top.rank, 6)

    pages.unpersist()
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
