"""Incremental dedup CLI for spark-submit: consume a SnapTable of documents
incrementally, join new docs against the persisted signature index, append
candidate pairs — exactly-once across crashes (the consumption cursor lives
in the sink tables' snapshot summaries; see streaming/table_dedup.py).

    spark-submit --driver-memory 4g \
        --py-files sbustreamspot_core_spark.zip jobs/run_incremental_dedup.py \
        --source /tables/docs --index /tables/dedup_index \
        --candidates /tables/dedup_candidates \
        [--id-col doc_id] [--text-col text] [--num-hashes 64] [--bands 16] \
        [--ngram 5] [--max-bucket-size N] [--append-docs path.parquet]

One invocation = one step: process every source snapshot appended since the
last run (a crashed previous run is detected and its candidate commit
replayed first — the step is then re-run automatically so new data is also
consumed).  ``--append-docs`` first appends a parquet of documents to the
source SnapTable, for driving the loop from a shell.  Prints ONE JSON
summary line per step taken.

Reference parallel: the train-then-stream split of io.cpp:100-110 /
main.cpp:322-431 — the "train" corpus is the persisted index, each
"stream" batch is a source append.
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, ".")

from sbustreamspot_core_spark.session import get_spark
from sbustreamspot_core_spark.sources.snaptable import SnapTable, is_snaptable
from sbustreamspot_core_spark.streaming.table_dedup import table_dedup_step


def main() -> None:
    ap = argparse.ArgumentParser(
        description="exactly-once incremental dedup between SnapTables")
    ap.add_argument("--source", required=True, help="SnapTable of documents")
    ap.add_argument("--index", required=True,
                    help="SnapTable for the persisted signature index")
    ap.add_argument("--candidates", required=True,
                    help="SnapTable for the candidate-pair log")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--num-hashes", type=int, default=64)
    ap.add_argument("--bands", type=int, default=16)
    ap.add_argument("--ngram", type=int, default=5)
    ap.add_argument("--max-bucket-size", type=int, default=None,
                    help="hot-bucket star-reduction cap (default: exact)")
    ap.add_argument("--append-docs", default=None,
                    help="parquet of docs to append to --source first")
    ap.add_argument("--compact-index", type=int, default=None, metavar="N",
                    help="after the step, compact the index SnapTable when "
                         "it holds >= N data files (small-files maintenance;"
                         " the consumption cursor survives compaction)")
    ap.add_argument("--vacuum-index-keep", type=int, default=None,
                    metavar="K",
                    help="after the step (and any compaction), expire all "
                         "but the last K index snapshots and delete the "
                         "files only they referenced; time travel past the "
                         "kept window is gone, the consumption cursor is "
                         "not (compaction carries it forward)")
    args = ap.parse_args()

    spark = get_spark("incremental-dedup")
    if args.append_docs:
        SnapTable.open_or_create(args.source).append(
            spark.read.parquet(args.append_docs))

    while True:
        res = table_dedup_step(
            spark, args.source, args.index, args.candidates,
            num_hashes=args.num_hashes, n=args.ngram, bands=args.bands,
            id_col=args.id_col, text_col=args.text_col,
            max_bucket_size=args.max_bucket_size)
        print(json.dumps(res))
        if res["status"] != "recovered":
            break

    if args.compact_index is not None and is_snaptable(args.index):
        v = SnapTable(args.index).compact(spark,
                                          min_files=args.compact_index)
        if v is not None:
            print(json.dumps({"status": "compacted_index",
                              "metadata_version": v}))

    if args.vacuum_index_keep is not None and is_snaptable(args.index):
        deleted = SnapTable(args.index).vacuum(
            keep_snapshots=args.vacuum_index_keep)
        print(json.dumps({"status": "vacuumed_index",
                          "files_deleted": len(deleted)}))


if __name__ == "__main__":
    main()
