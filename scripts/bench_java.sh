#!/bin/bash
# Run graft.Bench directly with java (no sbt startup): compiled classes +
# the Spark distribution jars. Same JVM flags build.sbt uses for forked runs.
#
#   scripts/bench_java.sh                                  per-round benchmark
#   scripts/bench_java.sh scaling [nFiles] [reps] [N,4N]   N-vs-4N legs, one JVM
#   scripts/bench_java.sh submit [nFiles] [reps]           no master (see
#                                                          run_spark_submit.sh)
#
# GRAFT_MAIN runs another main on the same classpath (default graft.Bench,
# whose modes above time the queries: e.g. `scripts/bench_java.sh scaling`).
set -e
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java -Xmx${SPARK_DRIVER_MEM:-48g} $ADD_OPENS \
  ${SPARK_EXTRA_JAVA_OPTS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp target/scala-2.13/classes:"/opt/spark/jars/*" \
  "${GRAFT_MAIN:-graft.Bench}" "$@"
