#!/bin/bash
# Run a graft main class directly on the compiled classes + Spark jars,
# bypassing sbt (no build lock, no sbt JVM overhead). Uses the classes of
# the checkout this script lives in (build them with `sbt compile`) and the
# JVM flags of tools/jvm.opts, the file build.sbt reads too.
# Usage: tools/run_main.sh graft.engine.CrawlMain [args...]
set -e
CLASS="$1"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
# Default heap: half of MemTotal in GiB, clamped to 2..8 (the rule the
# Tier-1 test run and perfbench use); SPARK_DRIVER_MEM overrides it.
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' </proc/meminfo 2>/dev/null || echo 2g)}"
mapfile -t OPTS < <(grep -Ev '^[[:space:]]*(#|$)' "$ROOT/tools/jvm.opts")
exec java "${OPTS[@]}" -Xmx"$HEAP" -cp "$CP" "$CLASS" "$@"
