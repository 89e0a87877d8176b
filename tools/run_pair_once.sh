#!/bin/bash
# Run ONE W_hi / W_lo scaling pair immediately (no calm-probe loop) — for
# targeted experiments (e.g. AQE on/off, conf sweeps) during a window the
# operator has already judged calm. Same cell mechanics as
# calm_harvest_r5e.sh: 4-core executors, 100k warmup corpus, one measured
# pass, per-pass steal + standard-candle counters in the JSON.
# Usage: tools/run_pair_once.sh <W_hi> <W_lo> <out.jsonl> [nRows] [workDir] [-Dspark.k=v ...]
# PROFILE picks the engine profile: full (full-decode verify; this
# script's default) or fast (the engine's own default path: byte-equal
# payloads pass without a decode); PASSES sets the passes per cell. The
# fast-profile 1v4 pair at 19.2M rows:
#   PROFILE=fast PASSES=3 tools/run_pair_once.sh 4 1 out.jsonl 19200000 /dev/shm/graft-c19200k
# Arguments after workDir are extra session confs, -Dspark.k=v launch
# settings put on the java line (they win over ClusterBench's own), e.g.
#   tools/run_pair_once.sh 4 1 out.jsonl 6400000 /dev/shm/graft-c6400k -Dspark.sql.adaptive.enabled=false
# and are recorded, space-separated, as the JSON line's "conf" field.
cd "$(dirname "$0")/.."
WHI=${1:?workers-hi}
WLO=${2:?workers-lo}
OUT=${3:?out.jsonl}
N=${4:-6400000}
WORK=${5:-/dev/shm/graft-c6400k}
PROFILE=${PROFILE:-full}
CORES=${CORES:-4}
MEM=${MEM:-6144}
WARMUP=${WARMUP:-/dev/shm/graft-c100k}
CONF=("${@:6}")
mkdir -p "$(dirname "$OUT")"
JAR=target/scala-2.13/sourcesystemdatacheckerspark_2.13-0.1.0.jar
AO=$(sed -n 's/^ADD_OPENS="\(.*\)"/\1/p' tools/qrun.sh)
cell() {
  SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 SPARK_LOCAL_DIRS=/dev/shm/spark-local \
  SPARK_GRAFT_WARMUP_DIR="$WARMUP" SPARK_GRAFT_STAGEDUMP=1 \
  SPARK_GRAFT_ABORT_STEAL_J=${ABORT_J:-400} \
  SPARK_GRAFT_PASSES=${PASSES:-1} SPARK_GRAFT_EXEC_CORES=$CORES \
  SPARK_GRAFT_SETTLE_S=${SETTLE:-15} \
  java $AO -Xmx8g -XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m \
    -Dspark.ui.enabled=false -Dspark.sql.shuffle.partitions=32 \
    "-Dspark.executor.extraJavaOptions=-XX:ActiveProcessorCount=$CORES -Xms${MEM}m -XX:+AlwaysPreTouch -XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=256m" \
    "${CONF[@]}" -cp "$JAR:/opt/spark/jars/*" \
    graft.ClusterBench "$1" "$N" "$WORK" "$PROFILE" "$MEM" 2>>"$OUT.err" \
    | grep -oE '\{"workers".*\}' | sed "s/^{/{\"cores\":$CORES,\"conf\":\"${CONF[*]}\",/" >> "$OUT"
  local rc=${PIPESTATUS[0]}
  rm -rf "$WORK"/out-* /dev/shm/spark-local/* 2>/dev/null
  return "$rc"
}
if cell "$WHI"; then
  cell "$WLO"
else
  echo "[pair-once] W$WHI warmup hit the steal gate — pair aborted" >&2
  exit 3
fi
tail -2 "$OUT" | grep -o '"workers":[0-9]*\|"validate_s":[0-9.]*\|"steal_j":[0-9]*\|"aborted":"[a-z_]*"\|"candle_[a-z]*_s":[0-9.]*' | tr '\n' ' '; echo
