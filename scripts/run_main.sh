#!/bin/bash
# Run a graft main directly against the compiled classes (no sbt lock).
# src/main/resources is on the classpath too: `sbt compile` does not copy
# it into the classes dir, and the graft-table data source is registered
# there (META-INF/services).
# Usage: scripts/run_main.sh graft.Bench [args...]
# Env mirrors the sbt runMain path (build.sbt javaOptions); the session
# settings come from graft.GraftSession.
set -u
MAIN="$1"; shift
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  "$MAIN" "$@"
