#!/usr/bin/env bash
# Standing 30x probe gate (round-13 verdict #2 promoted this from a
# one-off; round-16 converged the contract with two rounds of practice —
# r15 verdict #4): a TARGETED n=2 run over the scaling-contract keys at
# sf3 (= 30x replication of sf0.1 via tools/gen_sf1.py) at cpus=32,
# folded to BASELINE_r{N}_sf3.json. This is the leg that catches
# quadratics two green decades hide — the round-13 entity-cluster
# edge-set OOM was invisible at sf0.1 AND sf1 (4.9x ratio) and fatal at
# sf3.
#
# Why this shape and not the old 13-key n=3 cpus=4 contract: that shape
# paces at 50+ min/pass (3 passes never fit a round's measurement tail —
# round 15 measured it), and cpus=4 made the sf1->sf3 step ratios
# incomparable with the cpus=32 sf1 row. The committed rows of rounds
# 13 and 15 were BOTH this targeted cpus=32 shape; the script now says
# so. q_pagerank is the carried control key (its step ratio calibrates
# the host band); q_dedup_report rides along since round 16 as the
# done-check for the r15 shared-cache OOM (8 GB probe JVM, 32 tasks).
#
# Usage: tools/bench_sf3.sh <round>          # e.g. tools/bench_sf3.sh 16
#   SF3=/tmp/graft_sf3        fixture dir (generated if missing)
#
# Reading the record: compare per-key medians against the same round's
# BASELINE_r{N}_sf1.json — the sf1->sf3 step is 3x data, so a healthy
# ratio sits near 3x (shuffle-bound) or below (index/fixed-cost bound);
# sustained super-3x growth on a 3x step is a super-linear term.
set -euo pipefail
cd "$(dirname "$0")/.."
N=${1:?usage: tools/bench_sf3.sh <round number>}
SF3=${SF3:-/tmp/graft_sf3}
KEYS=q_entity_cluster,q_record_linkage,q_dedup_pipeline,q_semdedup_pipeline
KEYS=$KEYS,q_pagerank,q_dedup_report
# round 17: q_dedup_fuzzy_edit rides along — the r16 sf1 worst scaler
# (31.6x), re-planned this round to the exact-first fan-back; the sf3
# row is the standing proof the detector cost stays distinct-doc-bound
# while the output fan-out alone pays the 900x pair contract.
KEYS=$KEYS,q_dedup_fuzzy_edit
# round 18: the minhash->CC cluster consumers ride along — re-planned to
# the canonical-corpus fan-back this round (r17 verdict #1); their sf3
# row is the standing proof the candidate volume stays distinct-class
# bound while the per-doc fan-back pays only the output contract.
KEYS=$KEYS,q_dedup_cluster,q_curation_keep,q_dedup_minhash
if pgrep -f "runMain graft.Bench" | while read -r p; do
    ps -o comm= -p "$p"; done | grep -qE "java|sbt"; then
  echo "another graft.Bench JVM is live — refusing to contaminate" >&2
  exit 1
fi
if [ ! -d "$SF3" ]; then
  python3 tools/gen_sf1.py /root/testdata/sf0.1 "$SF3" 30
fi
for i in 1 2; do
  SPARK_GRAFT_SF_DIR=$SF3 \
  SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
  SPARK_GRAFT_BENCH_ONLY=$KEYS \
  SPARK_GRAFT_BENCH_ITERS=2 \
  SPARK_GRAFT_BENCH_OUT=/tmp/bench_sf3_$i.json \
    sbt -batch "runMain graft.Bench" > /tmp/bench_sf3_$i.log 2>&1
  echo "pass $i: $(grep -o '"value":[0-9.]*' /tmp/bench_sf3_$i.json | head -1)"
done
python3 tools/bench_medians.py "BASELINE_r${N}_sf3.json" \
  /tmp/bench_sf3_1.json /tmp/bench_sf3_2.json
echo "wrote BASELINE_r${N}_sf3.json"
