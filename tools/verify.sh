#!/bin/bash
# Local mirror of the driver's correctness run:
#   tools/verify.sh [sfdir] [outdir]
# Runs graft.Verify from compiled classes (sbt compile first), then
# tools/check.py compares each dumped result against DuckDB.
# Defaults: SPARK_GRAFT_CPUS = nproc; SPARK_DRIVER_MEM = MemTotal / 2,
# clamped to 2–8 GiB (the same sizing as the tier-1 test run).
set -e
REPO=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
HEAP=$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUT"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)} java $ADD_OPENS \
  -cp "/opt/spark/jars/*:$REPO/target/scala-2.13/classes" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx${SPARK_DRIVER_MEM:-$HEAP} \
  graft.Verify "$SF" "$OUT"
python3 "$REPO/tools/check.py" "$SF" "$OUT"
