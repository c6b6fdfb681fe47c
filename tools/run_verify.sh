#!/bin/bash
# Run graft.Verify on compiled classes without sbt startup overhead.
# Usage: tools/run_verify.sh [sfDir] [outDir] [mainClass]
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
MAIN=${3:-graft.Verify}
# this checkout's own classes: the Etl fixtures land in its target dir
ROOT=$(cd "$(dirname "$0")/.." && pwd)
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
shift $(( $# > 3 ? 3 : $# ))
# GRAFT_XMX: 8g covers the bench SFs; sf10 runs (60M-row lineitem,
# 32-thread shuffles) need ~48g or executor tasks OOM mid-shuffle
exec java $ADD_OPENS -Xmx${GRAFT_XMX:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$SF" "$OUT" "$@"
