#!/bin/bash
# Local mimic of the driver's Verify invocation. The --add-opens flags
# are required by Arrow's memory util on Java 17 (spark-submit adds them
# automatically; a bare `java` does not).
# Usage: tools/run_verify.sh <sf_dir> <out_dir> [only_csv]
set -e
cd "$(dirname "$0")/.."
SF_DIR=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_local}
[ -n "$3" ] && export SPARK_GRAFT_ONLY="$3"
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-16}
CLASSES=target/scala-2.13/classes
# `sbt compile` alone does not copy src/main/resources: without the
# data-source registration every graft-arrow entry would fail with
# DATA_SOURCE_NOT_FOUND, so refuse to start instead
SERVICES=$CLASSES/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister
if [ ! -f "$SERVICES" ]; then
  echo "run_verify.sh: $SERVICES is missing; run \`sbt Compile/copyResources\` first" >&2
  exit 1
fi
exec java \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  -cp "$CLASSES:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT"
