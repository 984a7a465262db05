#!/bin/bash
# Direct-java launcher for graft mains (dev tooling): graft_run.sh <MainClass> [args...]
#
# Runs a compiled main against the unmanaged Spark classpath WITHOUT sbt, so
# long sweeps/benches don't hold the sbt build lock (and `sbt test`/compile
# can proceed concurrently). Compile first: `sbt -batch compile`.
#
# Env: SPARK_DRIVER_MEM (default 8g; derived big tiers need 64g),
#      SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR, SPARK_GRAFT_QUERIES and
#      SPARK_GRAFT_BENCH_REF (the only SPARK_GRAFT_* vars) pass through,
#      SPARK_LOCAL_DIR (default /tmp) — point shuffle/spill scratch at the
#      volume with the most free space for big-tier sweeps, so a tier
#      failure measures the ENGINE, not the box's disk layout (VERDICT r7
#      #6; spill/shuffle compression are Spark defaults and stay on).
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"; done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"; done
exec java -Xmx${SPARK_DRIVER_MEM:-8g} $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dspark.local.dir="${SPARK_LOCAL_DIR:-/tmp}" \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
