#!/bin/bash
# Clean scale-gate pipeline for one round (tooling, like gen_scale.py):
#   tools/run_scale.sh <round> <sf0.1-testdata-dir>
# Strictly sequential — the round-12 ratios were nulled because a bench
# overlapped the gate's DuckDB replay and the first big run was
# heap-starved. 48g Spark driver, 3 iterations, DuckDB last.
set -e
round=${1:?usage: tools/run_scale.sh <round> <sf0.1-testdata-dir>}
sf01=${2:?usage: tools/run_scale.sh <round> <sf0.1-testdata-dir>}
cd "$(dirname "$0")/.."
log() { echo "[scale-r$round $(date +%H:%M:%S)] $*"; }

export SPARK_DRIVER_MEM=48g

if [ ! -d data/sf1 ]; then
  log "generating data/sf1"
  python3 tools/gen_scale.py "$sf01" data/sf1 10
fi

log "verify @ sf1"
rm -rf /tmp/vout_sf1
sbt -batch "runMain graft.Verify data/sf1 /tmp/vout_sf1" \
  > /tmp/verify_sf1.log 2>&1
grep -ci "failed" /tmp/verify_sf1.log || true

log "verify @ sf0.1 (rows_out_small)"
rm -rf /tmp/vout_sf01
sbt -batch "runMain graft.Verify $sf01 /tmp/vout_sf01" \
  > /tmp/verify_sf01.log 2>&1

log "bench @ sf0.1 (3 iters)"
SPARK_GRAFT_SF_DIR="$sf01" SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_ITERS=3 \
  SPARK_GRAFT_BENCH_DETAIL=/tmp/bench_sf01_detail.json \
  sbt -batch "runMain graft.Bench" > /tmp/bench_sf01.log 2>&1
tail -1 /tmp/bench_sf01.log

log "bench @ sf1 (3 iters)"
SPARK_GRAFT_SF_DIR=data/sf1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_ITERS=3 \
  SPARK_GRAFT_BENCH_DETAIL=/tmp/bench_sf1_detail.json \
  sbt -batch "runMain graft.Bench" > /tmp/bench_sf1.log 2>&1
tail -1 /tmp/bench_sf1.log

log "scale gate (DuckDB replay — nothing else running)"
python3 tools/scale_gate.py /tmp/vout_sf1 data/sf1 "$round" \
  --small-bench /tmp/bench_sf01.log --big-bench /tmp/bench_sf1.log \
  --small-out-dir /tmp/vout_sf01

log "done"
