#!/usr/bin/env bash
# Compile the engine (src/main/scala) together with the benchmark harness
# (perfbench/harness) into one class directory, with the Scala compiler
# that ships in Spark's jars — the same Scala and Spark the sbt build uses.
#
# Usage: perfbench/build.sh <out-dir> <spark-jars-dir>   (from the repository root)
set -euo pipefail
out="$1"
jars="$2"
test -d src/main/scala || { echo "build: no src/main/scala here" >&2; exit 1; }
rm -rf "$out" && mkdir -p "$out"
find src/main/scala perfbench/harness -name '*.scala' > "$out.sources"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn -d "$out" \
  -cp "$jars/*:lib/graft-simd.jar" "@$out.sources"
