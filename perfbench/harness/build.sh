#!/usr/bin/env bash
# Compile graft's main sources and the benchmark harness into "$1".
#
# Uses the Scala compiler that ships with the Spark jars in "$2" instead of
# sbt, so a build reads only the checkout and the jars, and writes only
# under "$1".
# Usage: perfbench/harness/build.sh <out-dir> <spark-jars-dir>   (from the repo root)
set -euo pipefail
out="$1"
jars="$2"
[ -f build.sbt ] && [ -d src/main/scala ] || { echo "build.sh: run from the graft repo root" >&2; exit 2; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
mapfile -t srcs < <(find src/main/scala src/main/java -name '*.scala' -o -name '*.java' | sort)
# -UsePerfData: no hsperfdata file outside the checkout.
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn -encoding UTF-8 \
  -d "$out.tmp" -classpath "$jars/*" "${srcs[@]}" perfbench/harness/Harness.scala
mapfile -t javas < <(find src/main/java -name '*.java' | sort)
if [ "${#javas[@]}" -gt 0 ]; then
  javac -J-XX:-UsePerfData -nowarn -encoding UTF-8 -d "$out.tmp" -cp "$out.tmp:$jars/*" "${javas[@]}"
fi
rm -rf "$out"
mv "$out.tmp" "$out"
