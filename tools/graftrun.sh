#!/bin/bash
# Direct-JVM runner for graft mains (dev measurement only — bypasses sbt's
# build lock so QueryMeter/Verify probes can run while sbt test/bench owns
# the lock). Same module opens + confs as build.sbt's `run / fork`.
# Usage: tools/graftrun.sh <mainClass> [args...]
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
