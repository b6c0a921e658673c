#!/bin/bash
# Dev runner: launch a graft entry point from the packaged jar without sbt
# (same JVM flags as build.sbt's javaOptions). Keeps sbt free for compiles
# and lets measurement runs proceed in parallel with test runs.
# Usage: tools/run_main.sh graft.Measure time /root/testdata/sf0.1 query1 query2 ...
# Refresh the jar first with: sbt package
set -e
JAR="$(dirname "$0")/../target/scala-2.13/cryptostreaminglakehousespark_2.13-0.1.0.jar"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize=512m \
  -cp "/opt/spark/jars/*:$JAR" "$@"
