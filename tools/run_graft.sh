#!/usr/bin/env bash
# Launch a graft main class with EXACTLY the forked-JVM flags build.sbt gives
# `sbt runMain` (pinned heap, G1, 1g code cache, JDK17 add-opens), but without
# sbt's project lock — so a long bench and an sbt compile/test can't queue on
# each other during optimization work. Usage:
#   tools/run_graft.sh graft.Bench
#   tools/run_graft.sh graft.tools.Probe phases <sfDir> q1 q2
# Env passthrough: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM, ...
set -euo pipefail
cd "$(dirname "$0")/.."
MEM="${SPARK_DRIVER_MEM:-8g}"
ADD_OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=("--add-opens" "java.base/$p=ALL-UNNAMED")
done
exec java "${ADD_OPENS[@]}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"$MEM" -Xms"$MEM" \
  -XX:+UseG1GC -XX:MaxGCPauseMillis=200 \
  -XX:ReservedCodeCacheSize=1g \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
