#!/bin/bash
# Full residual sweep of the reference's 0_stateless corpus for the
# failure-cause histogram: every test (curated ones included — they
# should PASS and serve as the control) in bounded 200-number ranges,
# each range in its OWN JVM so a crash poisons nothing, all against a
# FROZEN classpath snapshot so src/main edits during the hours-long
# sweep can't race lazy classloading.
set -u
OUT=${1:-/tmp/sweep_r13}
mkdir -p "$OUT"
# AnchorScout lives in the test classes: run `sbt Test/compile` first.
ROOT=$(cd "$(dirname "$0")/.." && pwd)
CP_SNAP="$OUT/classes"
TEST_SNAP="$OUT/test-classes"
[ -d "$CP_SNAP" ] || cp -r "$ROOT/target/scala-2.13/classes" "$CP_SNAP"
[ -d "$TEST_SNAP" ] || cp -r "$ROOT/target/scala-2.13/test-classes" "$TEST_SNAP"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for lo in $(seq 0 200 3400); do
  hi=$((lo + 199))
  tag=$(printf "%05d-%05d" "$lo" "$hi")
  log="$OUT/range_$tag.log"
  [ -s "$log" ] && grep -q "pass ==" "$log" && continue  # resumable
  timeout 3600 java $OPENS -Xmx12g \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CP_SNAP:$TEST_SNAP:/opt/spark/jars/*" \
    graft.tools.AnchorScout "$tag" > "$log" 2>&1
  echo "range $tag exit=$? $(grep -c '^PASS' "$log" 2>/dev/null)/$(grep -cE '^(PASS|FAIL)' "$log" 2>/dev/null)" >> "$OUT/summary.txt"
done
echo DONE >> "$OUT/summary.txt"
