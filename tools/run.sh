#!/bin/bash
# Dev runner: invoke a graft main class directly against the compiled classes
# (fast path — no sbt startup). Usage:
#   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/v01
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 tools/run.sh graft.Bench
MAIN="$1"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-32g} \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
