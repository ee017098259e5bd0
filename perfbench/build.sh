#!/usr/bin/env bash
# Builds the benchmark: compiles the program (src/main/scala) together
# with the benchmark's own sources (perfbench/src) into <out-dir>, with
# the Scala compiler and jars of the Spark installation in <jar-dir>
# (the directory build.sbt compiles against).
#
#   bash perfbench/build.sh <out-dir> <jar-dir>   (run from the repository root)
set -euo pipefail
out="$1"
jars="$2"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
[ -d perfbench/src ] || { echo "build.sh: no perfbench/src here" >&2; exit 2; }
rm -rf "$out"
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.sources"
java -Xss8m -Xmx3g -cp "$jars/*" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$out" -classpath "$jars/*" "@$out.sources"
rm -f "$out.sources"
