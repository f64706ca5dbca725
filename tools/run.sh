#!/bin/bash
# Launch a graft main class directly (without sbt), e.g.:
#   tools/run.sh graft.Bench [entry...]           # env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS;
#                                                 # one JSON line on stdout, no files
#   tools/run.sh graft.Verify <sfDir> <outDir> [entry...]
#   tools/run.sh graft.Explain <entry> [sfDir]
# Dev harness mains (graft.DebugScale etc.) live in src/test — build with
# `sbt Test/compile` first; test-classes ride the classpath below.
set -e
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:target/scala-2.13/test-classes:/opt/spark/jars/*" "$@"
