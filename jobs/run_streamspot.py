"""StreamSpot CLI — the reference's command-line surface (main.cpp:31-51)
re-expressed for spark-submit.

    spark-submit --py-files sbustreamspot_core_spark.zip jobs/run_streamspot.py \
        --edges /path/edges.tsv --bootstrap /path/clusters.txt \
        --chunk-length 10 --num-parallel-graphs 10 \
        [--max-num-edges N] [--dataset all|ydc|gfc] \
        [--checkpoint-dir /ckpt] [--output /out]

Bootstraps clusters from the training gids, replays the remaining gids in
deterministic interleaved micro-batches, and writes anomaly-score /
cluster-assignment snapshots per interval (the reference's
CLUSTER_UPDATE_INTERVAL contract, param.h:20).
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, ".")

from sbustreamspot_core_spark.config import ANOMALY, StreamSpotParams
from sbustreamspot_core_spark.session import get_spark
from sbustreamspot_core_spark.sources.bootstrap import read_bootstrap_clusters
from sbustreamspot_core_spark.sources.edges import (
    read_streamspot_edges,
    scenario_filter,
    train_test_split,
)
from sbustreamspot_core_spark.streaming.replay import (
    MicroBatchReplay,
    assign_replay_seq,
)


def main() -> None:
    ap = argparse.ArgumentParser(description="StreamSpot on Spark")
    ap.add_argument("--edges", required=True)
    ap.add_argument("--bootstrap", required=True)
    ap.add_argument("--chunk-length", type=int, default=10)
    ap.add_argument("--num-parallel-graphs", type=int, default=10,
                    help="accepted for reference-CLI parity and ignored: the "
                         "replay interleave is fixed round-robin (DEVIATIONS 3)")
    ap.add_argument("--max-num-edges", type=int, default=None)
    ap.add_argument("--dataset", choices=["all", "ydc", "gfc"], default="all")
    ap.add_argument("--interval", type=int, default=10000,
                    help="snapshot cadence in edges (param.h:20)")
    ap.add_argument("--sketch-bits", type=int, default=1000)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--output", default=None,
                    help="parquet path for the final (gid, cluster_id, "
                         "anomaly_score) table; stdout JSON is summary-only "
                         "when set (don't print 10^6 gids)")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    params = StreamSpotParams(
        chunk_length=args.chunk_length,
        L=args.sketch_bits, B=args.sketch_bits // 20, R=20,
        cluster_update_interval=args.interval,
        max_num_edges=args.max_num_edges,
    )
    spark = get_spark("streamspot")
    boot = read_bootstrap_clusters(args.bootstrap)
    edges = scenario_filter(read_streamspot_edges(spark, args.edges),
                            args.dataset)
    train, test = train_test_split(edges, boot.train_gids)
    engine = MicroBatchReplay(spark, params, boot, train,
                              checkpoint_dir=args.checkpoint_dir)
    out = engine.run(assign_replay_seq(test), resume=not args.no_resume)
    if args.output:
        engine.state_table().write.mode("overwrite").parquet(args.output)
        n_anom = sum(1 for c in out["cluster_map"].values() if c == ANOMALY)
        print(json.dumps({"batches": out["batches"],
                          "graphs": len(out["anomaly_scores"]),
                          "anomalies": n_anom, "output": args.output}))
    else:
        print(json.dumps({
            "batches": out["batches"],
            "cluster_map": {str(k): v for k, v in sorted(out["cluster_map"].items())},
            "anomaly_scores": {str(k): round(v, 6)
                               for k, v in sorted(out["anomaly_scores"].items())},
        }))


if __name__ == "__main__":
    main()
