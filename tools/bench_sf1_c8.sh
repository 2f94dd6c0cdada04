#!/usr/bin/env bash
# Core-scaling probe at sf1 (round 18, r17 verdict #3): the r17 c8-vs-c32
# leg ran at sf0.1, where every key is fixed-job-overhead-bound and 8
# cores BEAT 32 (geomean 0.87) — uninformative for the 100 TB claim. This
# leg runs the TOP-20 sf1 keys (by the prior round's sf1 row, minus the
# excluded O(n^2) twin) at BOTH core counts on the same host back to
# back, n=2 min-of-2 each, and folds per-key c8/c32 ratios into
# BASELINE_r{N}_sf1_c8.json. A healthy shuffle-heavy key reads ~2-4x
# (c8 slower); ~1x means the key is still overhead- or seam-bound at sf1
# (adjudicate per key in OPTIMIZATION/BASELINE prose).
#
# Usage: tools/bench_sf1_c8.sh <round>
#   SF1=/tmp/graft_sf1   fixture dir (generated if missing)
set -euo pipefail
cd "$(dirname "$0")/.."
N=${1:?usage: tools/bench_sf1_c8.sh <round number>}
SF1=${SF1:-/tmp/graft_sf1}
KEYS=q_audio_phash,q_events_gap_fill,q_semdedup,q_graph_components
KEYS=$KEYS,q_entity_cluster,q_pagerank,q_curation_keep,q_recommend_items
KEYS=$KEYS,q_knn_classify,q_audio_dedup,q_graph_stats,q_affinity_pairs
KEYS=$KEYS,q_affinity_incremental,q_ann_ivfpq,q_degree_hist
KEYS=$KEYS,q_multimodal_features,q_recommend_incremental,q_json_funcs
KEYS=$KEYS,q_join_theta,q_anomaly_mad
if pgrep -f "runMain graft.Bench" | while read -r p; do
    ps -o comm= -p "$p"; done | grep -qE "java|sbt"; then
  echo "another graft.Bench JVM is live — refusing to contaminate" >&2
  exit 1
fi
if [ ! -d "$SF1" ]; then
  python3 tools/gen_sf1.py /root/testdata/sf0.1 "$SF1" 10
fi
for CPUS in 32 8; do
  SPARK_GRAFT_SF_DIR=$SF1 \
  SPARK_GRAFT_CPUS=$CPUS \
  SPARK_GRAFT_BENCH_ONLY=$KEYS \
  SPARK_GRAFT_BENCH_ITERS=2 \
  SPARK_GRAFT_BENCH_OUT=/tmp/bench_sf1_c${CPUS}.json \
    sbt -batch "runMain graft.Bench" > /tmp/bench_sf1_c${CPUS}.log 2>&1
  echo "cpus=$CPUS: $(grep -o '"value":[0-9.]*' /tmp/bench_sf1_c${CPUS}.json | head -1)"
done
python3 - "BASELINE_r${N}_sf1_c8.json" <<'EOF'
import json, sys
c32 = json.load(open("/tmp/bench_sf1_c32.json"))
c8 = json.load(open("/tmp/bench_sf1_c8.json"))
ratio = {k: round(c8["queries"][k] / v, 3)
         for k, v in c32["queries"].items() if k in c8["queries"] and v > 0}
out = {"sf": c32["sf"], "iters": c32["iters"], "stat": c32["stat"],
       "cpus32": c32["queries"], "cpus8": c8["queries"],
       "ratio_c8_over_c32": ratio}
json.dump(out, open(sys.argv[1], "w"), indent=1, sort_keys=True)
print("ratios:", dict(sorted(ratio.items(), key=lambda x: -x[1])))
EOF
echo "wrote BASELINE_r${N}_sf1_c8.json"
