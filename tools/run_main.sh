#!/bin/bash
# Run a graft main class directly on the compiled classes + Spark jars,
# bypassing sbt (no build lock, no sbt JVM overhead).
# Usage: tools/run_main.sh graft.engine.CrawlMain [args...]
set -e
CLASS="$1"; shift
CP="/root/repo/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
# Default heap: half of MemTotal in GiB, clamped to 2..8 (the rule the
# Tier-1 test run and perfbench use); SPARK_DRIVER_MEM overrides it.
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' </proc/meminfo 2>/dev/null || echo 2g)}"
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
  -Dspark.sql.codegen.cache.maxEntries=8192 \
  -Xmx"$HEAP" \
  -cp "$CP" "$CLASS" "$@"
