#!/usr/bin/env python3
"""Fold N bench JSON files into per-query medians + compare to a prior
per-query record.

Usage: python3 tools/bench_medians.py out.json run1.json run2.json ... \
         [--vs prior_local.json] [--top 15]

Writes out.json with {"queries": {name: median}, "runs": [...totals...]}
and prints the top per-query ratios vs the prior
record (riser hunt: a real regression survives quiet medians; host
smear does not — see BASELINE.md gate row).
"""
import json
import statistics
import sys

vs = None
top = 15
args = []
it = iter(sys.argv[1:])
for a in it:
    if a == "--vs":
        vs = next(it)
    elif a == "--top":
        top = int(next(it))
    else:
        args.append(a)
out, runs = args[0], args[1:]

datas = [json.load(open(r)) for r in runs]
keys = sorted(set().union(*[d["queries"].keys() for d in datas]))
med = {k: round(statistics.median([d["queries"][k] for d in datas
                                   if k in d["queries"]]), 4)
       for k in keys}
rec = {
    "queries": med,
    "median_sum": round(sum(med.values()), 2),
    "runs": [d["value"] for d in datas],
    "n": len(datas),
    "stat_per_run": datas[0].get("stat"),
    "sf": datas[0].get("sf"),
}
json.dump(rec, open(out, "w"), indent=1)
print(f"median_sum {rec['median_sum']} over {len(med)} queries; "
      f"run totals {rec['runs']}")

if vs:
    prior = json.load(open(vs))
    pq = prior.get("queries_median") or prior.get("queries", prior)
    common = [k for k in med if k in pq and pq[k] > 0]
    ratios = sorted(((med[k] / pq[k], k, pq[k], med[k]) for k in common),
                    reverse=True)
    psum = sum(pq[k] for k in common)
    nsum = sum(med[k] for k in common)
    print(f"comparable subset: {len(common)} keys, "
          f"{round(nsum, 1)}s vs {round(psum, 1)}s = "
          f"{round(nsum / psum, 3)}x")
    print(f"top {top} risers (ratio, key, prior, now):")
    for r, k, p, n in ratios[:top]:
        print(f"  {r:6.2f}x  {k:28s} {p:8.3f} -> {n:8.3f}")
