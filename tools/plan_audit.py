#!/usr/bin/env python3
"""Audit .explain("formatted") dumps: per key, count operator classes that
dominate distributed cost — Exchange (minus ReusedExchange), per-table scan
multiplicity, joins by strategy, window/sort/generate nodes.

Usage: python3 tools/plan_audit.py <plandir> [suffix]
Reads <plandir>/<key>_<suffix>.txt (default suffix: audit) and prints a
TSV ranked by (duplicate-scan score, exchange count).

A dump (graft.DumpPlanFiles) holds every plan the key's build runs: each
build-time action's plan, then the returned frame's. The counts cover
all of them, so the build-time plans count too. An executed action's
AQE plan lists both its final and its initial plan, and a cached frame's
plan reappears under each reader, so one operator can count more than
once: compare counts between dumps, not against the plan's node count.
"""
import sys, re, glob, os

plandir = sys.argv[1]
suffix = sys.argv[2] if len(sys.argv) > 2 else "audit"

rows = []
for path in sorted(glob.glob(os.path.join(plandir, f"*_{suffix}.txt"))):
    key = os.path.basename(path)[: -len(f"_{suffix}.txt")]
    txt = open(path).read()
    # the operator tree section lists "(n) OpName" once per node
    ops = re.findall(r"^\(\d+\) ([A-Za-z0-9_]+)", txt, re.M)
    n_exch = sum(1 for o in ops if o == "Exchange")
    n_reuse = sum(1 for o in ops if o == "ReusedExchange")
    n_bcast = sum(1 for o in ops if o == "BroadcastExchange")
    n_smj = sum(1 for o in ops if o == "SortMergeJoin")
    n_bhj = sum(1 for o in ops if o == "BroadcastHashJoin")
    n_shj = sum(1 for o in ops if o == "ShuffledHashJoin")
    n_bnl = sum(1 for o in ops if o == "BroadcastNestedLoopJoin")
    n_cart = sum(1 for o in ops if o == "CartesianProduct")
    n_win = sum(1 for o in ops if o in ("Window", "WindowGroupLimit"))
    n_sort = sum(1 for o in ops if o == "Sort")
    n_gen = sum(1 for o in ops if o == "Generate")
    n_agg = sum(1 for o in ops if o.endswith("Aggregate"))
    # scans per table: "Scan parquet [default.]<table>" or file scans
    scans = re.findall(r"^\(\d+\) Scan parquet ?\S*?([a-z_0-9]+)?\s*$",
                       txt, re.M)
    scan_lines = re.findall(r"^\(\d+\) Scan (\w+)(.*)$", txt, re.M)
    by_table = {}
    for kind, rest in scan_lines:
        m = re.search(r"(region|nation|customer|supplier|part\b|orders|"
                      r"lineitem|events|documents|embeddings)", rest)
        t = m.group(1) if m else (kind if kind != "parquet" else "?")
        by_table[t] = by_table.get(t, 0) + 1
    dup_scans = sum(v - 1 for v in by_table.values() if v > 1)
    rows.append((key, n_exch, n_reuse, n_bcast, n_smj, n_bhj, n_shj,
                 n_bnl + n_cart, n_win, n_sort, n_gen, n_agg, dup_scans,
                 ",".join(f"{t}x{v}" for t, v in sorted(by_table.items())
                          if v > 1)))

rows.sort(key=lambda r: (-r[12], -r[1]))
print("key\texch\treuse\tbcast\tsmj\tbhj\tshj\tnlj\twin\tsort\tgen\tagg"
      "\tdup_scans\tdup_detail")
for r in rows:
    print("\t".join(str(x) for x in r))
