#!/bin/bash
# Run a graft main against the compiled classes without going through
# sbt (avoids target-lock contention with a concurrent sbt test/compile;
# assumes `sbt compile` is current). Mirrors build.sbt's forked-JVM
# options: JDK-17 add-opens for Spark 4.x outside spark-submit, UTC, UI
# off. Heap via SPARK_DRIVER_MEM (default 8g).
#   tools/run.sh graft.Bench
#   SPARK_DRIVER_MEM=48g tools/run.sh graft.tools.GenCorpus target/scale/x10 50000 20000
set -euo pipefail
cd "$(dirname "$0")/.."
if [ ! -d target/scala-2.13/classes ]; then
  echo "run.sh: target/scala-2.13/classes is missing; run 'sbt compile' first" >&2
  exit 1
fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
