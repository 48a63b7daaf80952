#!/bin/bash
# Bare-java runner for graft mains with the pinned JVM flags from build.sbt
# (runbook: bare java at default heap changes scan-bound wall-clock; keep
# -Xmx pinned via HEAP, default 8g).
HEAP="${HEAP:-8g}"
# the classes of the checkout this script lives in, wherever it was copied
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# user.language/country pinned like the timezone: artifact JSON floats must
# not pick up a comma-decimal host locale (belt to the Locale.ROOT braces
# in the formatters themselves)
exec java -Xmx$HEAP $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Duser.language=en -Duser.country=US \
  -cp "/opt/spark/jars/*:$ROOT/target/scala-2.13/classes" "$@"
