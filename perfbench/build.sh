#!/usr/bin/env bash
# Compiles the program (src/main/scala) and the benchmark (perfbench/src)
# with the Scala compiler that ships in the Spark distribution (no sbt, no
# dependency resolution) and packs the classes into <out-dir>/perfbench.jar.
# A jar, unlike a class directory, lets the JVM keep the classes a run
# loads in a class-data-sharing archive (see run.py).
#   usage: bash perfbench/build.sh <out-dir> <spark-jars-dir>   (from the repository root)
set -euo pipefail
out=${1:?usage: build.sh <out-dir> <spark-jars-dir>}
jars=${2:?usage: build.sh <out-dir> <spark-jars-dir>}
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala under $(pwd)" >&2; exit 1; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp/classes"
find src/main/scala perfbench/src -name '*.scala' > "$out.tmp/sources.txt"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp/classes" -classpath "$jars/*" "@$out.tmp/sources.txt"
jar cf "$out.tmp/perfbench.jar" -C "$out.tmp/classes" .
rm -rf "$out.tmp/sources.txt" "$out.tmp/classes"
rm -rf "$out"
mv "$out.tmp" "$out"
