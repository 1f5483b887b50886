#!/bin/bash
# ScaleCheck 10x/100x arms for the named cases, run one case at a time.
#
#   tools/scale_chain.sh <case>...    e.g. tools/scale_chain.sh dd_minhash g_lpa w2_disjoint
#
# A case is a name prefix of a batch case or a streaming arm (the
# SPARK_GRAFT_SCALE_CASES selector). Each run appends its rows to SCALE.md.
# Runs SERIALLY from the compiled classes in target/ (run `sbt compile`
# first, and do not recompile while it runs: the JVM lazy-loads
# classfiles). Timings need an otherwise idle machine. The corpus is
# ScaleCheck's default unless SPARK_GRAFT_SF_DIR is set; the heap is
# SPARK_DRIVER_MEM (default 8g), as in build.sbt; Spark's jars come from
# $SPARK_HOME/jars.
set -e -o pipefail
if [ $# -eq 0 ]; then
  echo "usage: $0 <case>..." >&2
  exit 2
fi
cd "$(dirname "$0")/.."
J=(java
  --add-opens=java.base/java.lang=ALL-UNNAMED
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED
  --add-opens=java.base/java.io=ALL-UNNAMED
  --add-opens=java.base/java.net=ALL-UNNAMED
  --add-opens=java.base/java.nio=ALL-UNNAMED
  --add-opens=java.base/java.util=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED
  --add-opens=java.base/sun.security.action=ALL-UNNAMED
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC
  "-Xmx${SPARK_DRIVER_MEM:-8g}" -Xss32m
  -cp "target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars/*")

for c in "$@"; do
  echo "=== 10x/100x arms: $c"
  SPARK_GRAFT_SCALE_FACTORS=10,100 SPARK_GRAFT_SCALE_CASES="$c" \
    "${J[@]}" graft.ScaleCheck 2>&1 | { grep -E "^\[scale\]|SCALE.md" || true; }
done
echo "=== chain done"
