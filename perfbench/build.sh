#!/usr/bin/env bash
# Compile the engine (src/main/scala) and the benchmark (perfbench/src)
# with the Scala compiler that ships in Spark's jars directory.
#
# Usage, from the repository root: bash perfbench/build.sh <outDir>
# Leaves the classes in <outDir>/classes.
set -euo pipefail
out=${1:?usage: build.sh <outDir>}
jars="${SPARK_HOME:-/opt/spark}/jars"
if [ ! -d src/main/scala ] || [ ! -d perfbench/src ]; then
  echo "build.sh: run from the repository root (src/main/scala and perfbench/src not found)" >&2
  exit 2
fi
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -d "$out/classes.tmp" -classpath "$jars/*" @"$out/sources.txt"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
