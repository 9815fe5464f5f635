#!/usr/bin/env bash
# Run a graft main (default graft.Bench) on the compiled classpath
# directly — no sbt in the loop, so (a) the summary JSON is guaranteed
# to be the process's true final stdout line with zero log prefixes,
# and (b) a long bench can run while sbt compiles elsewhere (the sbt
# global lock serializes concurrent sbt invocations).
#
# Usage: scripts/bench.sh [main-class] [args...]
#   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM as usual.
# Requires `sbt compile` to have produced target/scala-2.13/classes.
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="${1:-graft.Bench}"; shift || true
CLASSES=target/scala-2.13/classes
[ -d "$CLASSES" ] || { echo "run 'sbt compile' first" >&2; exit 1; }
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$MAIN" "$@"
