#!/bin/bash
# Scale-evidence chain: the full Bench suite at sf0.1 and at the
# 10x/100x/30x scaled copies (tools/gen_scaled_sf.py, /tmp/sf{1,10,3}),
# one point after another, each through tools/run_bench.sh (one JVM
# flag list, one classes choice: set CLASSES to pin a frozen build).
# Run it with nothing else running. Each point writes its JSON straight
# into bench_points_r<round>/, so a cut chain still leaves its evidence;
# then `python3 tools/assemble_scale.py <round>` writes
# BENCH_r<round>_scale.json.
# Usage: tools/scale_chain.sh <round>
#   sf0.1 is run_bench.sh's default data dir and also refreshes
#   BENCH_local.json; sf3 runs last and is optional (skipped when its
#   data is absent). SPARK_GRAFT_CPUS passes through.
set -e
cd "$(dirname "$0")/.."
ROUND=${1:?usage: tools/scale_chain.sh <round>}
OUT=bench_points_r$ROUND
mkdir -p "$OUT"
unset SPARK_GRAFT_ONLY

point() { # name sf_dir warm reps
  local out="$OUT/bench_r${ROUND}_$1.json"
  echo "=== bench $1 -> $out (warm=$3 reps=$4) $(date +%T) ==="
  SPARK_GRAFT_BENCH_OUT="$out" SPARK_GRAFT_BENCH_WARM="$3" \
    SPARK_GRAFT_REPS="$4" tools/run_bench.sh $2
}

point sf0.1 "" "" 3
cp "$OUT/bench_r${ROUND}_sf0.1.json" BENCH_local.json
point sf1 /tmp/sf1 1 1
point sf10 /tmp/sf10 1 1
if [ -d /tmp/sf3 ]; then point sf3 /tmp/sf3 1 1
else echo "sf3 data absent - skipped (optional)"; fi
echo "=== CHAIN_DONE $(date +%T) ==="
