#!/bin/bash
# Run a graft main directly against compiled classes (bypasses the sbt
# build lock so a main can run while sbt test is busy). Usage:
#   tools/run_main.sh graft.Bench /tmp/graft_sf1 o1_topk
CLS="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-24g} \
  -XX:PerMethodRecompilationCutoff=10000 -XX:PerBytecodeRecompilationCutoff=10000 \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLS" "$@"
