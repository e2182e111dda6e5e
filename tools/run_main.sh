#!/bin/bash
# Run a graft main directly against compiled classes (no sbt startup).
# Usage: tools/run_main.sh <MainClass> [args...]
# Env: SPARK_DRIVER_MEM (default: half of MemTotal, clamped to 2-8 g, the
# tier-1 test rule), SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR pass through.
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:$(echo /opt/spark/jars/*.jar | tr ' ' ':')"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
exec java $ADD_OPENS -Xmx"$MEM" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
