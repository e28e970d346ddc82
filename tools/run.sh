#!/bin/bash
# Fast runner: bypass sbt JVM startup; classes must be compiled already
# (sbt -batch compile). Usage: tools/run.sh <mainClass> [args...]
# Runs the classes of the checkout this script lives in, whatever the cwd.
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
