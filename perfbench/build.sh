#!/usr/bin/env bash
# Build file of the request benchmark: compiles graft's main sources and
# RequestBench (perfbench/scala) into one class directory with the Scala
# compiler that ships in Spark's jars. Run from the repository root:
#
#   perfbench/build.sh <class-dir>
#
# Needs SPARK_HOME (or spark-submit on PATH) and a JDK 17 `java`.
set -euo pipefail
out="${1:?usage: perfbench/build.sh <class-dir>}"
if [ -z "${SPARK_HOME:-}" ]; then
  SPARK_HOME="$(cd "$(dirname "$(readlink -f "$(command -v spark-submit)")")/.." && pwd)"
fi
jars="$SPARK_HOME/jars/*"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
rm -rf "$out"
mkdir -p "$out"
list="$out.sources"
find src/main/scala perfbench/scala -name '*.scala' | sort > "$list"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars" scala.tools.nsc.Main \
  -nowarn -encoding UTF-8 -d "$out" -classpath "$jars" "@$list"
cp -r src/main/resources/. "$out/"
rm -f "$list"
