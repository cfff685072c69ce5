#!/usr/bin/env bash
# Raw-java launcher for the graft mains (graft.Verify, graft.Bench,
# graft.SkewProbe, graft.BitextSkewProbe, graft.RecallProbe,
# graft.ExecutedSweep, graft.Explain, graft.ScaleGen; README "Run" has
# their arguments): runs compiled classes against the unmanaged Spark
# jars WITHOUT sbt, so long measurement runs never contend for sbt's
# project lock and pay no sbt JVM overhead. Mirrors build.sbt's fork settings (JDK17 --add-opens,
# UTC, ui off, SPARK_DRIVER_MEM heap).
#
# Usage: tools/jrun.sh <mainClass> [args...]
set -euo pipefail
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
