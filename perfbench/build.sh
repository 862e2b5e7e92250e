#!/usr/bin/env bash
# Build the benchmark: compile the program's sources (src/main/scala) and the
# benchmark's own (perfbench/src) with the Scala compiler that ships in the
# Spark distribution, into perfbench/.build/classes.
#
#   bash perfbench/build.sh            # from the root of a checkout
#
# Needs SPARK_HOME (or spark-submit on PATH) naming a Spark 4 / Scala 2.13
# install. Writes only under perfbench/.build.
set -euo pipefail

here="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
root="$(dirname "$here")"
if [ -z "${SPARK_HOME:-}" ]; then
  submit="$(command -v spark-submit || true)"
  [ -n "$submit" ] || { echo "build: set SPARK_HOME to a Spark install" >&2; exit 2; }
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$submit")")")"
fi
jars="$SPARK_HOME/jars"
ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1 \
  || { echo "build: no scala-compiler jar in $jars" >&2; exit 2; }
[ -d "$root/src/main/scala" ] \
  || { echo "build: program sources not found at $root/src/main/scala" >&2; exit 2; }

cp="$(ls "$jars"/*.jar | tr '\n' ':')"
out="$here/.build/classes"
rm -rf "$out"
mkdir -p "$out"
srcs="$here/.build/sources.txt"
find "$root/src/main/scala" "$here/src" -name '*.scala' | sort > "$srcs"

java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$cp" scala.tools.nsc.Main \
  -nowarn -d "$out" -classpath "$cp" "@$srcs"
