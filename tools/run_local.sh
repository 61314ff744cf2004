#!/usr/bin/env bash
# Run a graft main class against the local Spark jars (mirrors build.sbt's
# forked-JVM options). Usage: tools/run_local.sh <MainClass> [args...]
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
JAR=$(ls target/scala-2.13/*.jar | head -1)
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$JAR:/opt/spark/jars/*" "$MAIN" "$@"
