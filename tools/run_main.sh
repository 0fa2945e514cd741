#!/bin/bash
# Run a graft main class directly on the sbt-compiled classes (no sbt lock):
#   tools/run_main.sh <class> [mem] [args...]
# e.g. tools/run_main.sh graft.tools.PlanAudit 2g /path/to/sf0.001 /tmp/pa q_agg_groupby
# Build the classes first with `sbt compile`. mem defaults to 8g. The Spark
# jars come from $SPARK_HOME, else from the spark-submit on PATH.
set -euo pipefail
if [ $# -lt 1 ]; then
  echo "usage: $0 <class> [mem] [args...]" >&2
  exit 2
fi
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
if [ -z "${SPARK_HOME:-}" ]; then
  SUBMIT="$(command -v spark-submit || true)"
  [ -n "$SUBMIT" ] || { echo "run_main: set SPARK_HOME" >&2; exit 2; }
  SPARK_HOME="$(cd "$(dirname "$(readlink -f "$SUBMIT")")/.." && pwd)"
fi
MEM="${2:-8g}"
exec java \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$MEM" \
  -cp "$REPO/target/scala-2.13/classes:$SPARK_HOME/jars/*" "$1" "${@:3}"
