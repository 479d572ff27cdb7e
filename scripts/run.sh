#!/usr/bin/env bash
# Run a graft main (graft.Verify / graft.Bench) against the compiled classes
# without sbt startup overhead. Usage: scripts/run.sh graft.Verify <args...>
# Per-query profile (Spark jobs, stages, driver gaps, FS calls per layer):
#   python3 perfbench/run.py --workload olap --seed 1 --seconds 15 --trace 1
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs \
         java.base/sun.security.action java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
