#!/bin/bash
# Standalone runner for graft mains (ScaleGen/Bench/Verify) outside sbt —
# frees the sbt lock so compile/test and long scale batteries can overlap.
# Mirrors build.sbt's forked-JVM options (JDK17 add-opens, UTC, no UI).
# Usage: scripts/run_main.sh <mainClass> [args...]
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN=$1; shift
# sort -V: version-aware pick of the newest driver (lexicographic sort puts
# 1.10.x before 1.9.x), matching build.sbt's numeric-version selection
DUCKDB_JAR=$(find "$HOME/.cache/coursier" -name 'duckdb_jdbc-*.jar' 2>/dev/null | sort -V | tail -1 || true)
# default heap: half of MemTotal in GiB clamped to 2–8g, as build.sbt derives it
DEFAULT_MEM=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || true)
exec java \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${SPARK_GRAFT_JAVA_OPTS:-} \
  -Xmx"${SPARK_DRIVER_MEM:-${DEFAULT_MEM:-2g}}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*${DUCKDB_JAR:+:$DUCKDB_JAR}" \
  "$MAIN" "$@"
