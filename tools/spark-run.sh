#!/bin/bash
# Run a graft main class against the compiled classes + /opt/spark/jars,
# bypassing sbt startup. Usage: tools/spark-run.sh graft.Verify <args...>
# Session confs come from graft.GraftSession. The heap defaults to half
# of RAM, clamped to 2-8 GB; SPARK_DRIVER_MEM overrides it.
set -e
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null \
  || echo 2g)"
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-$MEM} \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
