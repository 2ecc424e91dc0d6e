#!/bin/bash
# Run graft.ScaleBench with a raw java invocation.
# Usage: runscale.sh <factor> <queryCsv> <logfile>
# Runs the compiled classes of the checkout this script sits in (run
# `sbt compile` first) on the jars of $SPARK_HOME. The heap comes from
# SPARK_DRIVER_MEM, default 48g as in build.sbt; set e.g.
# SPARK_DRIVER_MEM=8g on a 16 GB host.
set -u
FACTOR="$1"; QUERIES="$2"; LOG="$3"
: "${SPARK_HOME:?set SPARK_HOME to the Spark installation}"
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(ls "$SPARK_HOME"/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
java $ADD_OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx"${SPARK_DRIVER_MEM:-48g}" \
  -cp "$CP" graft.ScaleBench "$FACTOR" "$QUERIES" > "$LOG" 2>&1
echo "exit=$? log=$LOG"
