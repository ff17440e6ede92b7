#!/bin/bash
# Direct-java launcher for graft mains (Bench/Verify/Explain/ScaleSmoke):
# the same flags build.sbt forks with, minus sbt — so measurement runs can
# overlap an sbt test session and never absorb sbt's own JVM noise.
# Usage: tools/runmain.sh <mainClass> [args...]
# Heap: SPARK_DRIVER_MEM, else half of physical memory clamped to 2-8g (the
# rule the tier-1 test command uses). Classes: the sbt build output of the
# checkout this script lives in, plus the jars of the Spark install at
# SPARK_HOME (as perfbench/build.py finds them).
set -e
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
JARS="${SPARK_HOME:?SPARK_HOME must point at a Spark install}/jars"
CP="$ROOT/target/scala-2.13/classes:$(ls "$JARS"/*.jar | tr '\n' ':')"
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
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
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"$MEM" -Xms"$MEM" -XX:+AlwaysPreTouch \
  -XX:ReservedCodeCacheSize=512m \
  $SPARK_GRAFT_EXTRA_JVM \
  -cp "$CP" "$@"
