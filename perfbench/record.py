#!/usr/bin/env python3
"""Takes a benchmark record: untraced and traced runs of every workload.

Run from the root of a checkout:

    python3 perfbench/record.py --untraced 10 --traced 3 --out perfbench/RECORD.json

For each workload it runs perfbench/run.py with seeds 1..N untraced and
N+1..N+M traced, then writes per metric the median over the runs, the
spread (first to third quartile as a share of the median, the way
statistics.quantiles(values, n=4) gives them), the per-layer medians of
the traced runs, and the tracing overhead: the traced runs' end-to-end
medians minus the untraced ones. Every raw result is kept in the record.
With --workloads, only those are run, and the other workloads of an
existing --out record are kept.
"""
import argparse
import json
import os
import platform
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    out = {"seed": seed, "trace": trace, "exit": p.returncode,
           "wall_s": round(time.time() - t0, 1)}
    lines = p.stdout.strip().splitlines()
    if lines:
        out["result"] = json.loads(lines[-1])
    if trace:
        m = re.search(r"end-to-end in this traced run: (\{.*\})", p.stderr)
        if m:
            out["e2e"] = json.loads(m.group(1))
    if p.returncode != 0:
        out["stderr_tail"] = p.stderr[-2000:]
    print(f"{workload} seed {seed} trace {trace}: exit {p.returncode}, "
          f"{out['wall_s']} s", file=sys.stderr, flush=True)
    return out


def summary(values):
    med = statistics.median(values)
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [med] * 3
    return {"median": med, "spread": (q[2] - q[0]) / med if med else None,
            "n": len(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--untraced", type=int, default=10)
    ap.add_argument("--traced", type=int, default=3)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", default=os.path.join(HERE, "RECORD.json"))
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    record = {"host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                       "kernel": platform.release()},
              "run_seconds": seconds, "workloads": {}}
    if a.workloads and os.path.exists(a.out):
        with open(a.out) as f:
            record["workloads"] = json.load(f)["workloads"]
    for w in names:
        s0 = a.first_seed
        plain = [run(w, s0 + i, seconds, 0) for i in range(a.untraced)]
        traced = [run(w, s0 + a.untraced + i, seconds, 1) for i in range(a.traced)]
        good = [r for r in plain if r.get("result", {}).get("correct")]
        tgood = [r for r in traced if r.get("result", {}).get("correct")]
        e2e = {m["name"]: summary([r["result"]["metrics"][m["name"]]["value"] for r in good])
               for m in bench["end_to_end"]} if good else {}
        layers = {m["name"]: statistics.median(
            [r["result"]["metrics"][m["name"]]["value"] for r in tgood])
            for m in bench["per_layer"]} if tgood else {}
        overhead = {}
        for m in bench["end_to_end"]:
            tv = [r["e2e"][m["name"]] for r in tgood if m["name"] in r.get("e2e", {})]
            if tv and m["name"] in e2e:
                overhead[m["name"]] = statistics.median(tv) - e2e[m["name"]]["median"]
        record["workloads"][w] = {
            "correct_runs": f"{len(good)}/{len(plain)} untraced, {len(tgood)}/{len(traced)} traced",
            "end_to_end": e2e, "tracing_overhead": overhead, "per_layer": layers,
            "runs": plain + traced}
    with open(a.out, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    for w, r in record["workloads"].items():
        print(w, r["correct_runs"])
        for k, v in r["end_to_end"].items():
            print(f"  {k:18s} median {v['median']:.4g}  spread {v['spread']:.3f}  "
                  f"tracing +{r['tracing_overhead'].get(k, float('nan')):.4g}")


if __name__ == "__main__":
    main()
