#!/usr/bin/env bash
# Standing 10x gate leg (r12 verdict #2 promoted sf1 to a standing
# recorded row; round 16 codified the ad-hoc per-round scripts into this
# contract): full-suite n=2 per-key timings at sf1 (= 10x replication of
# sf0.1 via tools/gen_sf1.py), cpus=32, folded to BASELINE_r{N}_sf1.json.
#
# q_dedup_embedding is EXCLUDED from this leg (r15 verdict #3): it is the
# declared fixture-only O(n^2) exact ground-truth twin, hard-gated behind
# spark.graft.allowQuadratic in production, and at sf1 it alone was 303 s
# of the 956 s round-15 row (32%) — growing 100x per 10x data BY DESIGN.
# It keeps its oracle duty at sf0.1 and below (where it guards
# q_dedup_embedding_lsh); the sf1 leg runs the LSH path it exists to
# validate. The exclusion is stamped into each pass's JSON ("skipped")
# so the row can never silently read as a full-suite record.
#
# Usage: tools/bench_sf1.sh <round>          # e.g. tools/bench_sf1.sh 16
#   SF1=/tmp/graft_sf1        fixture dir (generated if missing)
set -euo pipefail
cd "$(dirname "$0")/.."
N=${1:?usage: tools/bench_sf1.sh <round number>}
SF1=${SF1:-/tmp/graft_sf1}
if pgrep -f "runMain graft.Bench" | while read -r p; do
    ps -o comm= -p "$p"; done | grep -qE "java|sbt"; then
  echo "another graft.Bench JVM is live — refusing to contaminate" >&2
  exit 1
fi
if [ ! -d "$SF1" ]; then
  python3 tools/gen_sf1.py /root/testdata/sf0.1 "$SF1" 10
fi
for i in 1 2; do
  SPARK_GRAFT_SF_DIR=$SF1 \
  SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
  SPARK_GRAFT_BENCH_SKIP=q_dedup_embedding \
  SPARK_GRAFT_BENCH_ITERS=2 \
  SPARK_GRAFT_BENCH_OUT=/tmp/bench_sf1_$i.json \
    sbt -batch "runMain graft.Bench" > /tmp/bench_sf1_$i.log 2>&1
  echo "pass $i: $(grep -o '"value":[0-9.]*' /tmp/bench_sf1_$i.json | head -1)"
done
python3 tools/bench_medians.py "BASELINE_r${N}_sf1.json" \
  /tmp/bench_sf1_1.json /tmp/bench_sf1_2.json
echo "wrote BASELINE_r${N}_sf1.json"
