#!/bin/bash
# Isolated fresh-JVM bench cell: one graft.Bench child per invocation,
# same JVM flags as build.sbt. Used for the decade
# protocol's matched isolated cells (sf10 REPEAT=2 best-of, sf100
# REPEAT=1), where sbt's own JVM + compile check would pollute load.
#
# Usage: isolated_cell.sh <sfDir> <queriesCsv> <repeat> [driverMem] [outFile]
set -u
SFDIR="$1"; ONLY="$2"; REPEAT="${3:-1}"; MEM="${4:-${SPARK_DRIVER_MEM:-64g}}"
OUT="${5:-/tmp/isolated_cell.json}"
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
echo "[cell] load1m=$(cut -d' ' -f1 /proc/loadavg) sf=$SFDIR only=$ONLY repeat=$REPEAT mem=$MEM"
SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
SPARK_GRAFT_ONLY="$ONLY" SPARK_GRAFT_REPEAT="$REPEAT" \
SPARK_GRAFT_BENCH_OUT="$OUT" SPARK_GRAFT_BENCH_REPO="${OUT%.json}_repo.json" \
exec java $ADD_OPENS -Xmx"$MEM" -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC -cp "$CP" graft.Bench
