#!/bin/bash
# Direct-JVM runner for the graft mains (Bench/Verify/ScaleData/PlanDump):
# same JDK-17 add-opens set as build.sbt, classpath = compiled classes +
# the image's Spark jars. Avoids sbt's project lock so long background
# runs (fixture generation, trend benches) don't block the dev loop.
# Usage: tools/run_main.sh [-Xmx8g ...] graft.Main args...
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:$(echo /opt/spark/jars/*.jar | tr ' ' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# EngineConf sets UTC for every engine session; ScaleData builds its own,
# and the timestamps it writes follow the session time zone
exec java $OPENS -Dspark.sql.session.timeZone=UTC -cp "$CP" "$@"
