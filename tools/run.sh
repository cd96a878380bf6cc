#!/bin/bash
# Direct-JVM runner for graft mains — same flags as build.sbt's fork
# (add-opens set from org.apache.spark.launcher.JavaModuleOptions) but
# without sbt, so measurement runs don't serialize on the sbt project
# lock. The heap is half of MemTotal clamped to 2g..8g, as the test
# and perfbench runs size it; SPARK_DRIVER_MEM overrides it.
# Usage: tools/run.sh graft.Bench [args...]
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  /proc/meminfo 2>/dev/null || echo 2g)"
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-$HEAP}" \
  -cp "$CP" "$@"
