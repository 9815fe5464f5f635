#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala) and
# the benchmark harness (perfbench/src) into one class directory with
# the Scala compiler that ships among Spark's jars. No sbt, no network.
#
# Usage, from the repository root:
#   bash perfbench/build.sh <spark-jars-dir> <out-dir>
set -euo pipefail
jars="$1"
out="$2"
[ -d src/main/scala/graft ] || { echo "no program sources under src/main/scala" >&2; exit 2; }
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
exec java -XX:-UsePerfData -Xss8m -Xmx3g -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -release 17 -d "$out" -classpath "$(ls "$jars"/*.jar | tr '\n' ':')" \
  @"$out/sources.txt"
