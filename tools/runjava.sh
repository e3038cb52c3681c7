#!/bin/bash
# Canonical DIRECT-JAVA launcher for graft mains — the timed path for
# every bench/probe record. `sbt runMain` measured the SAME code 20%
# slower (193.2 s vs 160.5 s, r14): the sbt JVM both adds launch
# overhead and contends with the measured JVM for the box. Flags mirror
# build.sbt's javaOptions exactly (Spark 4.x on JDK 17 needs the
# add-opens when SparkSession is created outside spark-submit).
#
#   tools/runjava.sh graft.Bench
#   tools/runjava.sh graft.Verify /root/testdata/sf0.01 /tmp/out [query ...]
#   tools/runjava.sh graft.Profile <q1,q2,...|all> [dir1,dir2,...] [reps] [--plan]
#
# Run from the repo root (classpath is relative). Bench stamps the
# record with "launcher":"direct-java" when started this way — pinned
# here explicitly so the record never depends on the classpath
# heuristic (a checkout path containing "sbt" would fool it).
export SPARK_GRAFT_LAUNCHER="${SPARK_GRAFT_LAUNCHER:-direct-java}"
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp target/scala-2.13/classes:/opt/spark/jars/'*' \
  "$@"
