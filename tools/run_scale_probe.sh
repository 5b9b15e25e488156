#!/bin/bash
# Run graft.ScaleProbe via plain `java` against the sbt-compiled classes,
# bypassing the sbt project lock so `sbt compile/test` stays usable while a
# multi-hour probe runs. Mirrors build.sbt's `run` fork exactly: JDK-17
# add-opens, fixed pre-touched heap (SPARK_DRIVER_MEM, default 8g), UI off,
# UTC session timezone. Multi-round shuffle-regime builds leave each
# round's shuffle files on disk until the ContextCleaner GCs their
# references; the default 30 min periodic GC lets a 7-round build stack
# every round's spill on one box, so a 1-min sweep keeps peak disk near
# one round (SparkConf reads spark.* system properties). Usage:
#   SPARK_GRAFT_SHUFFLE_PARTS=256 SPARK_DRIVER_MEM=48g \
#     tools/run_scale_probe.sh nnd-rounds /root/headroom/h120 7 75 105
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
MEM="${SPARK_DRIVER_MEM:-8g}"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xms"$MEM" -Xmx"$MEM" -XX:+AlwaysPreTouch \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dspark.cleaner.periodicGC.interval=60s \
  -cp "$CP" graft.ScaleProbe "$@"
