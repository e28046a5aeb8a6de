#!/bin/bash
# Dev-only launcher: run a graft main class directly on the compiled
# classes + the image's Spark jars (faster than sbt run).
# Usage: tools/run_main.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
# Extra JVM options (system properties, a log4j2 configuration) go in
# $JAVA_OPTS; see tools/log4j2-codegen.properties.
set -e
CLS="$1"; shift
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED \
--add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
--add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
--add-opens=java.base/java.io=ALL-UNNAMED \
--add-opens=java.base/java.net=ALL-UNNAMED \
--add-opens=java.base/java.nio=ALL-UNNAMED \
--add-opens=java.base/java.util=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
--add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
--add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
--add-opens=java.base/sun.security.action=ALL-UNNAMED \
--add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
# heap: SPARK_DRIVER_MEM, else build.sbt's 8g fallback
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} $JAVA_OPTS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLS" "$@"
