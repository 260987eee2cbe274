#!/usr/bin/env bash
# Builds the benchmark driver together with graft's main sources from the
# enclosing checkout, so a run always measures the program as it stands
# there. Uses the Scala compiler that ships with the Spark install
# ($SPARK_HOME/jars), so the build needs no network and no build tool.
#
#   graftbench/build.sh <output classes dir>
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
out="$1"
: "${SPARK_HOME:?SPARK_HOME must name a Spark 4 install}"
[ -d "$root/src/main/scala/graft" ] || { echo "no graft sources under $root/src/main/scala" >&2; exit 2; }

rm -rf "$out"
mkdir -p "$out"
find "$here/src" "$root/src/main/scala" -name '*.scala' | sort > "$out.sources"
java -XX:-UsePerfData -Xss8m -Xmx3g -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main \
  -nowarn -d "$out" -classpath "$SPARK_HOME/jars/*" "@$out.sources"
