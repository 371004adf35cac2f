#!/bin/bash
# Run a graft main class outside sbt (avoids the sbt project lock so a
# long rehearsal can overlap `sbt test`). Usage:
#   tools/run.sh graft.ScaleGen /root/testdata/sf0.1 tmp/scale_100x 100
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$@"
