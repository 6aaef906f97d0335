#!/bin/bash
# Run a graft main class directly on the compiled classes + /opt/spark/jars,
# bypassing sbt (no server lock, no build overhead). Compile first:
#   sbt -batch compile
# Usage: tools/runmain.sh graft.Bench [args...]
set -euo pipefail
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# GRAFT_CLASSES overrides the classes dir — sweeps snapshot the compiled
# classes to a frozen copy so recompiles during a long background sweep
# can't hand a half-written class file to the next per-query JVM.
# The mains set their own session settings (graft.DevSession).
ROOT=$(cd "$(dirname "$0")/.." && pwd)
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize=512m \
  -cp "${GRAFT_CLASSES:-$ROOT/target/scala-2.13/classes}:/opt/spark/jars/*" \
  "$@"
