#!/bin/bash
# Run graft.Verify directly against compiled classes (faster than sbt).
# The classes are those of the checkout this script sits in.
# Usage: scripts/run_verify.sh [sfDir] [outDir] [mainClass]
set -e
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
MAIN=${3:-graft.Verify}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$MAIN" "$SF" "$OUT" "${@:4}"
