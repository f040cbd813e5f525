#!/bin/bash
# usage: run_graft.sh <mainClass> [args...]
# Heap is SPARK_DRIVER_MEM (default 8g), as under sbt (build.sbt); repo root
# is derived from this script's own location so the checkout can live anywhere.
MAIN=$1; shift
REPO_ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
SPARK_JARS="${SPARK_JARS_DIR:-/opt/spark/jars}"
CP="$REPO_ROOT/target/scala-2.13/classes:$(echo "$SPARK_JARS"/*.jar | tr ' ' ':')"
exec java -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -cp "$CP" "$MAIN" "$@"
