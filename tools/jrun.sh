#!/bin/bash
# Fast main-class runner for measurement iteration: identical JVM options to
# build.sbt's forked run (add-opens set, Xmx from SPARK_DRIVER_MEM, UTC, no UI)
# but skips sbt startup. Usage: tools/jrun.sh <mainClass> [args...]
# Runs the classes `sbt compile` left in this checkout's target/. The heap
# defaults to MemTotal / 2, clamped to 2–8 GiB (the tier-1 test sizing).
set -u
MAIN="$1"; shift
REPO=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
HEAP=$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)
CP="$REPO/target/scala-2.13/classes:$(ls -d /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-$HEAP}" -cp "$CP" "$MAIN" "$@"
