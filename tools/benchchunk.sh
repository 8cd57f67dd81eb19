#!/bin/bash
# Run graft.BenchChunk in a pristine JVM exactly the way Bench forks
# it (same add-opens, same cpus and -Xmx, read from the same
# SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM with the same defaults),
# without sbt in the loop. This is how to profile one query: the times
# land in <outFile>, each query's census (jobs, stages, tasks, shuffle
# and spill bytes, planning and GC ms, longest jobs, eager vs final) in
# <outFile>.census.
# Usage: tools/benchchunk.sh <outFile> <q1,q2,...|--tput> [sfDir]
set -euo pipefail
OUT=$1; SPEC=$2; SF=${3:-/root/testdata/sf0.1}
CPUS=${SPARK_GRAFT_CPUS:-4}; MEM=${SPARK_DRIVER_MEM:-8g}
# classpath comes from a repo-local file (NOT world-writable /tmp): a
# stale or tampered /tmp file could silently run the wrong build
DIR=$(cd "$(dirname "$0")/.." && pwd)
CPFILE="$DIR/target/graft_cp.txt"
if [ ! -f "$CPFILE" ]; then
  # `sbt export` prints the classpath as one colon-joined line
  (cd "$DIR" && sbt -batch -error 'export Runtime/fullClasspath' \
    </dev/null | tail -n 1 > "$CPFILE")
fi
CP=$(cat "$CPFILE")
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$MEM" -cp "$CP" graft.BenchChunk "$SF" "$CPUS" "$OUT" "$SPEC"
