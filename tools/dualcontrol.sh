#!/bin/bash
# Isolated A/B dual-control for per-query bench drift (VERDICT r16 items
# 4+5): times the SAME queries against TWO frozen classpaths (e.g. HEAD vs
# a pre-restructure commit) on the same machine, interleaved A,B,A,B so
# slow load drift hits both sides equally. Uses graft.TimeQuery (Bench's
# exact session shape, warm min over reps).
#
# Usage: tools/dualcontrol.sh <classpathA> <classpathB> <sfDir> <q1,q2,...>
# Each classpath is a compiled target/scala-2.13/classes dir.
set -euo pipefail
CPA=$1; CPB=$2; SFDIR=$3; QUERIES=$4
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
run() { # $1=classpath $2=query
  SPARK_GRAFT_CPUS=32 java $ADD_OPENS -Xmx8g \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$1:/opt/spark/jars/*" graft.TimeQuery "$2" "$SFDIR" 4 \
    2>/dev/null | grep -E "^[a-z0-9_]+:" || true
}
IFS=',' read -ra QS <<< "$QUERIES"
for q in "${QS[@]}"; do
  echo "== $q =="
  echo -n "A($CPA) "; run "$CPA" "$q"
  echo -n "B($CPB) "; run "$CPB" "$q"
  echo -n "A($CPA) "; run "$CPA" "$q"
  echo -n "B($CPB) "; run "$CPB" "$q"
done
