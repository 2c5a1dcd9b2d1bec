#!/bin/bash
# Dev harness: run a graft main class against the compiled classes + Spark jars.
# usage: ./run-crawl.sh <mainClass> [args...]   (env: SPARK_GRAFT_CPUS etc pass through)
# Heap: SPARK_DRIVER_MEM, else half the host's RAM in GB clamped to 2..8
# (the same formula the test suite's SPARK_DRIVER_MEM uses).
MAIN="$1"; shift
HERE="$(cd "$(dirname "$0")" && pwd)"
# Spark jars: $SPARK_HOME/jars, else the install spark-submit runs from
SPARK_HOME="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
exec java \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Xmx"$HEAP" -XX:+UseG1GC \
  -Dderby.system.home=/dev/shm/graft-derby -Djava.io.tmpdir=/dev/shm \
  -cp "$HERE/target/scala-2.13/classes:$SPARK_HOME/jars/*" \
  "$MAIN" "$@"
