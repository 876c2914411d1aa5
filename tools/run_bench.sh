#!/bin/bash
# Local mimic of the driver's Bench invocation against a frozen classes
# snapshot (so sbt compiles during the run can't corrupt classloading).
# Usage: tools/run_bench.sh <sf_dir> [only_csv]
#   SPARK_GRAFT_REPS / SPARK_GRAFT_CPUS / SPARK_GRAFT_BENCH_OUT env
#   pass through; CLASSES overrides the classes dir (default the
#   frozen /tmp snapshot if present, else target/).
set -e
cd "$(dirname "$0")/.."
SF_DIR=${1:-/root/testdata/sf0.1}
[ -n "$2" ] && export SPARK_GRAFT_ONLY="$2"
CLASSES=${CLASSES:-$(ls -d /tmp/graft_classes_r* 2>/dev/null | sort -V | tail -1)}
CLASSES=${CLASSES:-target/scala-2.13/classes}
export SPARK_GRAFT_SF_DIR="$SF_DIR"
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
exec java -Xmx100g \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  -cp "$CLASSES:/opt/spark/jars/*" \
  graft.Bench
