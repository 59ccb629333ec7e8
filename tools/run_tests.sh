#!/bin/bash
# Direct scalatest runner (no sbt lock): tools/run_tests.sh [-s graft.FooSpec ...]
# Runs the compiled classes of the checkout this script lives in.
ROOT=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")
# Derive the coursier cache root portably: locate the scalatest core jar anywhere under
# the local cache and take its repo root (…/org/scalatest/... -> strip at /org/).
STCORE=$(find "$HOME/.cache/coursier" -name "scalatest-core_2.13-3.2.19.jar" 2>/dev/null | head -1)
[ -n "$STCORE" ] || { echo 'scalatest jar not found in coursier cache' >&2; exit 1; }
CS=${STCORE%%/org/scalatest/*}
ST=$(find "$CS/org/scalatest" "$CS/org/scalactic" -name "*_2.13-3.2.19.jar" -o -name "scalatest-compatible-3.2.19.jar" | tr '\n' ':')
# scalacheck (PropertiesSpec): whatever 2.13 version the cache holds
SC=$(find "$CS/org/scalacheck" -name "scalacheck_2.13-*.jar" 2>/dev/null | head -1)
[ -n "$SC" ] && ST="$ST$SC:"
SX=$(ls "$CS"/org/scala-lang/modules/scala-xml_2.13/2.3.0/scala-xml_2.13-2.3.0.jar 2>/dev/null || ls "$CS"/org/scala-lang/modules/scala-xml_2.13/*/scala-xml_2.13-*.jar | head -1)
CP="$ROOT/target/scala-2.13/classes:$ROOT/target/scala-2.13/test-classes:$JARS/*:$ST$SX"
ADD="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADD -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -cp "$CP" org.scalatest.tools.Runner -R "$ROOT/target/scala-2.13/test-classes" -o "$@"
