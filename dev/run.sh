#!/bin/bash
# Fast runner for graft mains without sbt startup overhead.
#   dev/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 dev/run.sh graft.Bench
#   dev/run.sh graft.UnicodeFixtureMain        # a src/test main
# Requires a prior `sbt compile` (`sbt Test/compile` for the test-tree
# mains, e.g. the axis fixture builders dev/axis_compare.sh starts).
set -e
TARGET="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13"
CLASSES="$TARGET/classes:$TARGET/test-classes"
CP="$CLASSES:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OPENS="$OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
OPENS="$OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
# SPARK_GRAFT_JAVA_OPTS: extra -D flags (e.g. dev/parity.sh's
# execution-mode conf injection). Placed last so they win.
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  $SPARK_GRAFT_JAVA_OPTS \
  -cp "$CP" "$@"
