#!/bin/bash
# Fast launcher: java directly against compiled classes + Spark jars,
# mirroring build.sbt's javaOptions. Usage: scripts/run.sh graft.Verify args...
# Heap: $SPARK_DRIVER_MEM when set (e.g. 8g), else half the host's memory.
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLASS="$1"; shift
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
if [ -n "$SPARK_DRIVER_MEM" ]; then HEAP="-Xmx$SPARK_DRIVER_MEM"; else HEAP="-XX:MaxRAMPercentage=50"; fi
exec java $OPENS $GRAFT_JAVA_OPTS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  "$HEAP" \
  -cp "$ROOT/target/scala-2.13/classes:$ROOT/target/scala-2.13/test-classes:/opt/spark/jars/*" \
  "$CLASS" "$@"
