#!/bin/bash
# Run a graft main directly on the compiled classes — no sbt, no project
# lock, no 10-minute tool timeout. Usage:
#   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 tools/run_main.sh graft.Bench [args...]
# Env passes through (SPARK_GRAFT_BENCH_ONLY, SPARK_GRAFT_CPUS, ...);
# SPARK_DRIVER_MEM sets the heap (default 4g).
set -euo pipefail
MAIN="$1"; shift
SCALA_LIB=$(ls /root/.cache/coursier/v1/https/*/artifactory/maven-all/org/scala-lang/scala-library/2.13.17/scala-library-2.13.17.jar 2>/dev/null | head -1)
CP="/root/repo/target/scala-2.13/classes:${SCALA_LIB}:/opt/spark/jars/*"
exec java -Xmx"${SPARK_DRIVER_MEM:-4g}" \
  --add-exports java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -cp "$CP" "$MAIN" "$@"
