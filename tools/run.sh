#!/bin/bash
# Run a graft main class against the compiled classes without sbt startup
# overhead. The mains: graft.Verify (oracle dump), graft.Bench (headline
# timings + per-pass Profile records), graft.PlanCheck (formatted plans),
# and the stress harnesses graft.ScaleStress, AnnStress, DeltaStress,
# IngestStress, RasterStress, TokStress and BpeThroughput. Usage:
#   tools/run.sh graft.Verify <testdata>/sf0.01 /tmp/verify_out
#   SPARK_GRAFT_BENCH_ONLY=q_hybrid tools/run.sh graft.Bench
set -euo pipefail
# classes of the checkout this script lives in, wherever it is run from
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
CLS="$1"; shift
JARS=$(ls /opt/spark/jars/*.jar | tr '\n' ':')
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} ${SPARK_GRAFT_JAVA_OPTS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:$JARS" "$CLS" "$@"
