#!/usr/bin/env bash
# Compiles the program (src/main/scala) together with the benchmark
# (perfbench/src) into $BUILD/classes with the Scala compiler that ships
# in the Spark distribution, so no build tool or network is needed.
# Run from the repository root: bash perfbench/build.sh [build-dir]
set -euo pipefail
BUILD="${1:-.bench_build}"
JARS="${SPARK_HOME:-/opt/spark}/jars"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
[ -d "$JARS" ] || { echo "build.sh: no Spark jars at $JARS" >&2; exit 2; }
rm -rf "$BUILD/classes.tmp"
mkdir -p "$BUILD/classes.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$BUILD/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$JARS/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$BUILD/classes.tmp" "@$BUILD/sources.txt"
rm -rf "$BUILD/classes"
mv "$BUILD/classes.tmp" "$BUILD/classes"
