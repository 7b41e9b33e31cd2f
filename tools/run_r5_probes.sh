#!/bin/sh
# Round-5 probe sequence — SERIALIZED (two concurrent Spark JVMs on this
# host produce phantom 100x slowdowns; see BENCH.md measurement notes).
# Usage: sh tools/run_r5_probes.sh [outdir]
OUT=${1:-/tmp/r5_probes}
mkdir -p "$OUT"
cd "$(dirname "$0")/.."
echo "bench start $(date)" >> "$OUT/progress"
python bench.py > "$OUT/bench.json" 2> "$OUT/bench.err"
echo "incdedup start $(date)" >> "$OUT/progress"
python tools/incremental_dedup_demo.py 50000 32 50000,80000,125000 \
  > "$OUT/incdedup.jsonl" 2> "$OUT/incdedup.err"
echo "dedup10m start $(date)" >> "$OUT/progress"
python tools/dedup_scale_demo.py 1000000 32 1 \
  > "$OUT/dedup10m.jsonl" 2> "$OUT/dedup10m.err"
echo "done $(date)" >> "$OUT/progress"
touch "$OUT/DONE"
