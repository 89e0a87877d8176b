#!/bin/bash
# Whole-engine N-vs-4N scaling evidence on TRUE multi-JVM executors:
# local-cluster[W,1,mem] spawns W separate single-core executor JVMs (own
# JIT/GC/memory manager each) — the faithful in-sandbox analog of W
# executors. Single-JVM local[N] cannot measure this (shared-JIT recompile
# storms + futex contention made 4x threads run SLOWER; BENCH/BASELINE.md).
#
# Methodology (carried over from the single-JVM local[N] cells, measured on this VM):
#  - corpus + shuffle dirs on /dev/shm (virtio disk inflates wall ~5x);
#  - run DETACHED (tmux/nohup): foreground supervision skews wall up to 3x;
#  - fresh app per cell, cold pass + ONE measured steady pass (pass 2):
#    repeated in-app re-validations of the same corpus degrade monotonically
#    (accumulating executor/driver JVM state — a harness regime production
#    never sits in: one submission = one validation run);
#  - executor JVMs run -XX:ActiveProcessorCount=1 (override via EXEC_OPTS,
#    passed as -Dspark.executor.extraJavaOptions): each 1-core executor otherwise sizes
#    GC/JIT pools for all 32 host cores — 8 such JVMs degraded the steady
#    pass ~8x (174.5s vs 21.8s at n=100k, measured r3). This is the
#    faithful analog of container-core-capped executors in production;
#  - -XX:-DontCompileHugeMethods + big code cache on EVERY JVM: generated
#    whole-stage loops past HotSpot's 8000-byte compile limit otherwise run
#    interpreted for a whole job (stochastic 4-16x; BENCH/BASELINE.md);
#  - cells INTERLEAVED across reps; per-cell MIN *and* MEDIAN reported
#    (r3 verdict: a single fast draw must not carry the headline);
#  - every pass records /proc/stat steal/iowait/busy deltas so slow draws
#    are ATTRIBUTED (hypervisor steal = co-tenancy) rather than assumed;
#  - same spark.sql.shuffle.partitions + per-executor memory across cluster
#    sizes: identical physical plan, only the executor count varies.
#
# Usage: tools/run_cluster_scaling.sh [nRows] [workDir]   (after sbt package)
#   REPS=5 PROFILES="full fast" CLUSTER_OUT=/tmp/cells.jsonl tools/run_cluster_scaling.sh 100000
set -e
cd "$(dirname "$0")/.."
N=${1:-200000}
WORK=${2:-/dev/shm/graft-cluster}
REPS=${REPS:-5}
PROFILES=${PROFILES:-full}
OUT=${CLUSTER_OUT:-/tmp/cluster_cells.jsonl}
JAR=target/scala-2.13/sourcesystemdatacheckerspark_2.13-0.1.0.jar
CP="$JAR:/opt/spark/jars/*"
EXEC_OPTS=${EXEC_OPTS:-"-XX:ActiveProcessorCount=1 -XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=256m"}

ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"

run() { # run <workers|prep> <profile>
  SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  SPARK_LOCAL_DIRS=/dev/shm/spark-local SPARK_GRAFT_PASSES=${SPARK_GRAFT_PASSES:-2} \
  java $ADD_OPENS -Xmx8g -XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -Dspark.sql.shuffle.partitions=32 "-Dspark.executor.extraJavaOptions=$EXEC_OPTS" \
    -cp "$CP" graft.ClusterBench "$1" "$N" "$WORK" "$2" 3072 2>/dev/null \
    | grep -oE '\{"(workers|prep)".*\}' | tail -1
}

echo "[cluster-scaling] prep corpus n=$N (exec opts: $EXEC_OPTS)"
run prep x
for r in $(seq "$REPS"); do
  for profile in $PROFILES; do
    for w in 2 8; do
      R=$(run "$w" "$profile")
      echo "$R" | tee -a "$OUT"
    done
  done
done
python3 tools/assemble_cluster_scaling.py "$N" "$OUT"
