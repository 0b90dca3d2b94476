#!/bin/bash
# Run a graft main directly against the compiled classes (no sbt lock,
# no sbt startup): bin/run-main.sh graft.Bench [args...]
# Env (SPARK_GRAFT_*) passes through. Compile first with `sbt compile`.
# Spark jars come from SPARK_JARS_DIR (default /opt/spark/jars), as in
# bin/graft-sync.
set -euo pipefail
HERE="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
SPARK_JARS_DIR="${SPARK_JARS_DIR:-/opt/spark/jars}"
CLS="$HERE/target/scala-2.13/classes"
JARS="$SPARK_JARS_DIR/*"
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $OPENS "-Xmx${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLS:$JARS" "$@"
