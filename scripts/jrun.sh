#!/usr/bin/env bash
# Run a graft main class against the LAST COMPILED classes with plain
# java (no sbt): source edits after compile do not affect running jobs,
# and two runs never contend on the sbt lock.
# Usage: scripts/jrun.sh <MainClass> [args...]
# Heap: $SPARK_DRIVER_MEM, else half of physical memory capped at 48g.
set -euo pipefail
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dfile.encoding=UTF-8 -Dstdout.encoding=UTF-8 -Dstderr.encoding=UTF-8 \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {m = int($2 / 2048); print (m > 49152 ? 49152 : m) "m"}' /proc/meminfo)}" \
  -cp "${GRAFT_CLASSES:-/root/repo/target/scala-2.13/classes}:/opt/spark/jars/*" \
  "graft.$MAIN" "$@"
