#!/usr/bin/env bash
# Builds the benchmark: compiles the repository's Scala sources
# (src/main/scala) together with the harness (perfbench/src) against the
# Spark jars, which also carry the Scala compiler.
#
# Usage: bash perfbench/build.sh <out_dir>     (classes land in <out_dir>/classes)
# The jar directory is the one build.sbt names as `unmanagedBase`;
# SPARK_JARS overrides it.
set -euo pipefail
out=$1
root=$(cd "$(dirname "$0")/.." && pwd)
[ -d "$root/src/main/scala" ] || { echo "build: no sources under $root/src/main/scala" >&2; exit 2; }
jars=${SPARK_JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' "$root/build.sbt")}
compiler=$(ls "$jars"/scala-compiler-2.13.*.jar "$jars"/scala-library-2.13.*.jar \
  "$jars"/scala-reflect-2.13.*.jar | tr '\n' ':')
mapfile -t srcs < <(find "$root/src/main/scala" "$root/perfbench/src" -name '*.scala' | sort)
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
java -Xss8m -Xmx2g -cp "$compiler" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -classpath "$jars/*" "${srcs[@]}"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
