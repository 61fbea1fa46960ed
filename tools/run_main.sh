#!/bin/bash
# Run a graft main class directly against the compiled classes — same JVM
# flags as build.sbt's forked run, without sbt's project lock (lets a
# Verify/Bench run coexist with an sbt test session). Usage:
#   tools/run_main.sh graft.Verify /root/testdata/sf0.01 /tmp/out
# Env: SPARK_DRIVER_MEM (default: build.sbt's rule, half the machine's
# memory or of the container's limit where one is set, clamped to 2-8 GB),
# SPARK_GRAFT_* as usual.
set -e
cd "$(dirname "$0")/.."
default_heap() {
  local kb lim g
  kb=$(awk '/^MemTotal:/ {print $2}' /proc/meminfo 2>/dev/null || echo 0)
  lim=$(cat /sys/fs/cgroup/memory.max /sys/fs/cgroup/memory/memory.limit_in_bytes 2>/dev/null | head -1 || true)
  if [[ "$lim" =~ ^[0-9]+$ ]] && (( lim / 1024 < kb || kb == 0 )); then kb=$(( lim / 1024 )); fi
  g=$(( kb / 2097152 ))
  (( g < 2 )) && g=2
  (( g > 8 )) && g=8
  echo "${g}g"
}
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-$(default_heap)}" ${SPARK_GRAFT_JVM_OPTS:-} \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
