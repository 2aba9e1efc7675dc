#!/bin/bash
# Direct-JVM benchmark launcher. Benchmarks must NOT run through
# `sbt runMain`: a live sbt JVM in the box measurably poisons the forked
# benchmark (observed 5-20x degradations that vanish without it — see
# NOTES_r2.md). Compile first (`sbt -batch compile`), quit sbt, then:
#
#   scripts/bench.sh graft.ScalingBench          # N vs 4N evidence → BENCH/BASELINE.md
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=16 \
#     scripts/bench.sh graft.Bench               # headline JSON line
#   scripts/bench.sh graft.Plans                 # regenerate PLANS.md
#
# The crawl's per-layer split (driver gap, per-stage times, frontier/seen/
# store layers, extraction and URL costs) comes from the traced benchmark,
# which builds and runs its own JVM:
#
#   python3 perfbench/run.py --workload round_bulk --seed 1 --seconds 15 --trace 1
#
# Flags mirror build.sbt's forked-JVM options (JDK17 add-opens, ParallelGC,
# 24g heap — override with HEAP=..., extra JVM flags with EXTRA_JVM=...).
set -e
cd "$(dirname "$0")/.."
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
java.base/sun.util.calendar"
FLAGS=""
for p in $OPENS; do FLAGS="$FLAGS --add-opens $p=ALL-UNNAMED"; done
exec java $FLAGS -XX:+UseParallelGC -Xmx"${HEAP:-24g}" ${EXTRA_JVM:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
