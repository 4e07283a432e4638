#!/bin/bash
# Run graft.tools.AnchorScout directly on the compiled classes — NO sbt,
# so detached sweeps never recompile and never race a src/main edit
# (the round-12 incident). The tool lives in the test classes, so run
# `sbt Test/compile` first. Usage: tools/scout.sh <args...>
ROOT=$(cd "$(dirname "$0")/.." && pwd)
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx12g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$ROOT/target/scala-2.13/test-classes:/opt/spark/jars/*" \
  graft.tools.AnchorScout "$@"
