#!/bin/bash
# Resumable perf-shape acceptance sweep (see PerfShapeScout). Runs against
# a FROZEN classpath snapshot; each attempt capped at 1800 s so a wedged
# file costs at most one attempt (the resume logic then skips it).
set -u
OUT=${1:-/tmp/perf_sweep_r17}
mkdir -p "$OUT"
LOG="$OUT/scout.log"
# PerfShapeScout lives in the test classes: run `sbt Test/compile` first.
ROOT=$(cd "$(dirname "$0")/.." && pwd)
CP="$OUT/classes"
TEST_CP="$OUT/test-classes"
[ -d "$CP" ] || cp -r "$ROOT/target/scala-2.13/classes" "$CP"
[ -d "$TEST_CP" ] || cp -r "$ROOT/target/scala-2.13/test-classes" "$TEST_CP"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for attempt in $(seq 1 80); do
  grep -q "SWEEP-COMPLETE" "$LOG" 2>/dev/null && break
  PERF_SCOUT_RESUME="$LOG" timeout 1800 java $OPENS -Xmx24g \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CP:$TEST_CP:/opt/spark/jars/*" graft.tools.PerfShapeScout >> "$LOG" 2>&1
  echo "attempt $attempt exit=$?" >> "$OUT/attempts.txt"
done
echo "WRAPPER-DONE passes=$(grep -c '^PASS ' "$LOG") fails=$(grep -c '^FAIL ' "$LOG")"
