#!/bin/bash
# Builds the benchmark: the library sources (src/main/scala) and the
# benchmark sources (lakebench/src) in one pass of the Scala compiler that
# ships in the Spark distribution, against the Spark jars. build.sbt is not
# used, so the benchmark builds the same way on every commit.
#
# Usage (from the repository root): bash lakebench/build.sh <classes-dir>
set -euo pipefail
OUT="$1"
if [ ! -d src/main/scala ]; then
  echo "lakebench build: no src/main/scala under $(pwd)" >&2
  exit 2
fi
if [ -z "${SPARK_HOME:-}" ]; then
  SUBMIT="$(command -v spark-submit || true)"
  [ -n "$SUBMIT" ] || { echo "lakebench build: set SPARK_HOME" >&2; exit 2; }
  SPARK_HOME="$(cd "$(dirname "$(readlink -f "$SUBMIT")")/.." && pwd)"
fi
rm -rf "$OUT.tmp"
mkdir -p "$OUT.tmp"
find src/main/scala lakebench/src -name '*.scala' | LC_ALL=C sort > "$OUT.tmp/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main \
  -usejavacp -nowarn -d "$OUT.tmp" @"$OUT.tmp/sources.txt"
rm -rf "$OUT"
mv "$OUT.tmp" "$OUT"
