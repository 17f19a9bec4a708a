#!/bin/bash
# Calibrated multi-JVM (local-cluster) N->4N scaling pair — BASELINE.md
# round-5 protocol (round-4 verdict task #4).
#
# Shape: 2x2-core -> 8x2-core executor JVMs (N -> 4N executors at fixed
# cores-per-executor — the north rule's literal criterion), CPU-budgeted
# (-XX:ActiveProcessorCount matches the executor's core grant; see the
# round-3 addendum-3 finding that unbudgeted executor JVMs size their
# GC/JIT/netty pools from the host's 32 CPUs and measure pool thrash).
#
# Calibration: the same master at near-zero data (1000 URLs) measures the
# per-run fixed cost F_level — executor registration, per-executor
# broadcast copies, codegen, scheduling floor, marker I/O. Corrected
# efficiency divides rates computed on (T - F) instead of T.
#
# Window discipline: a 1-thread membw fingerprint (graft.WindowMark)
# before every leg; legs of a pair run back-to-back (interleaved sweeps).
#
# Usage: tools/multijvm_pair.sh [bigUrls] [sweeps]   (default 64000000 2)
set -u
cd "$(dirname "$0")/.."
JAR=target/scala-2.13/lawcrawlerservicespark_2.13-0.1.0.jar
BIG=${1:-64000000}
SWEEPS=${2:-2}
SUBMIT=/opt/spark/bin/spark-submit

mark() {
  java -cp "$JAR:/opt/spark/jars/*" graft.WindowMark 500 2>/dev/null | grep WINDOW_MARK
}

# run <nExec> <coresPerExec> <urls>  — prints the CRAWL_BENCH line
run() {
  local N=$1 C=$2 URLS=$3
  local MASTER="local-cluster[$N,$C,8192]"
  local CORES=$((N * C))
  SPARK_HOME=/opt/spark SPARK_GRAFT_MASTER="$MASTER" \
  "$SUBMIT" --master "$MASTER" \
    --driver-memory 8g --conf spark.executor.memory=7g \
    --conf "spark.executor.extraJavaOptions=-XX:+UseParallelGC -XX:ActiveProcessorCount=$C" \
    --conf spark.ui.enabled=false --class graft.CrawlBench \
    "$JAR" "$CORES" "$URLS" 2>/dev/null \
    | grep CRAWL_BENCH | sed "s/^/execs=${N}x${C} /"
}

echo "=== multijvm_pair start $(date -u +%FT%TZ) big=$BIG sweeps=$SWEEPS"

echo "--- calibration (1000 URLs, 2 reps per level; F = min wall)"
for rep in 1 2; do
  for N in 2 8; do
    mark
    echo "CAL rep=$rep $(run "$N" 2 1000)"
  done
done

for sw in $(seq 1 "$SWEEPS"); do
  echo "--- sweep $sw"
  for N in 2 8; do
    mark
    echo "BIG sweep=$sw $(run "$N" 2 "$BIG")"
  done
done
echo "=== multijvm_pair end $(date -u +%FT%TZ)"
