#!/bin/bash
# Run a graft main class directly against compiled classes + Spark jars.
# Usage: tools/run.sh <mainClass> [args...]
# The classpath is this checkout's own build output (run `sbt compile` first)
# plus the Spark jar directory its build.sbt compiles against.
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
MAIN=$1; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens=java.base/sun.nio.ch=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens=java.base/sun.nio.cs=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens=java.base/sun.security.action=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$JARS/*" \
  "$MAIN" "$@"
