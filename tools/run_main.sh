#!/bin/bash
# Direct JVM runner for graft mains (no sbt lock): tools/run_main.sh <MainClass> [args...]
# Runs the compiled classes of the checkout this script lives in, against
# the Spark jars build.sbt names (unmanagedBase). Heap via GRAFT_XMX (default 8g).
ROOT=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")
ADD="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADD -Xmx"${GRAFT_XMX:-8g}" -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$JARS/*" "$@"
