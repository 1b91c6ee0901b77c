#!/bin/bash
# Run a graft main class against the sbt-compiled classes + /opt/spark/jars,
# without sbt (avoids the sbt server lock so benches and verifies can
# overlap). Usage: tools/run_main.sh graft.Bench [args...]
MAIN="$1"; shift
REPO="$(dirname "$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd -P)")"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
