#!/usr/bin/env python3
"""Audit .explain("formatted") dumps: per key, count operator classes that
dominate distributed cost — Exchange (minus ReusedExchange), per-table scan
multiplicity, joins by strategy, window/sort/generate nodes.

Usage: python3 tools/plan_audit.py <plandir> [suffix]
Reads <plandir>/<key>_<suffix>.txt (default suffix: audit) and prints a
TSV ranked by (duplicate-scan score, exchange count).

A dump (graft.DumpPlanFiles) holds every plan the key's build runs: each
build-time action's plan, then the returned frame's. The counts cover
all of them, so the build-time plans count too. Each operator that ran
counts once:
  - of an executed AQE plan, only the `== Final Plan ==` counts; the
    `== Initial Plan ==` it also lists is what AQE replaced;
  - a cached frame (the subtree under an `InMemoryRelation`) counts in
    the first plan that reads it; a later plan that reads the same frame
    (same relation and subtree details, exprIds included) counts only
    its `InMemoryRelation` node.
"""
import sys, re, glob, os

MARK = re.compile(r"^([ :|]*)\+- == (Final|Initial) Plan ==")
# a tree line: branch prefix, optional codegen star, op name, " (id)"
NODE = re.compile(r"^([ :|]*)(?:[+:]- )?(?:\* )?([A-Za-z][A-Za-z0-9_ ]*?) +\((\d+)\)")
DETAIL = re.compile(r"^\((\d+)\) ([A-Za-z0-9_]+)(.*)$")


def plan_chunks(txt):
    """One chunk per `== Physical Plan ==`: operator ids restart in each."""
    return re.split(r"^== Physical Plan ==$", txt, flags=re.M)[1:]


def tree_and_details(chunk):
    """Tree nodes as (col, id, under_initial) in order, and id -> [op,
    rest of the header line, detail lines...] from the detail section."""
    nodes, marks, details = [], [], {}
    cur = None
    for line in chunk.split("\n"):
        d = DETAIL.match(line)
        if d:
            cur = int(d.group(1))
            details[cur] = [d.group(2), d.group(3).strip()]
            continue
        if cur is not None:
            if line.strip():
                details[cur].append(line)
                continue
            cur = None
        m = MARK.match(line)
        n = None if m else NODE.match(line)
        if not (m or n):
            continue
        col = len((m or n).group(1))
        while marks and marks[-1][0] >= col:
            marks.pop()
        if m:
            marks.append((col, m.group(2)))
        else:
            nodes.append((col, int(n.group(3)),
                          any(k == "Initial" for _, k in marks)))
    return nodes, details


def signature(ids, details):
    """A cached frame's identity: its nodes' details, ids dropped."""
    return tuple(re.sub(r"operator id: \d+", "operator id",
                        "\n".join(details.get(i, [])))
                 for i in ids)


def counted_ops(txt):
    """(op, rest of header) of each operator that ran, once (see the
    module docstring)."""
    ops, seen_frames = [], set()
    for chunk in plan_chunks(txt):
        nodes, details = tree_and_details(chunk)
        keep = {i for _, i, initial in nodes if not initial}
        frames = {}
        for k, (col, i, _) in enumerate(nodes):
            if details.get(i, [""])[0] != "InMemoryRelation":
                continue
            sub = []
            for c, j, _ in nodes[k + 1:]:
                if c <= col:
                    break
                sub.append(j)
            frames.setdefault(i, [])
            frames[i] += [j for j in sub if j not in frames[i]]
        sigs = set()
        for i, sub in frames.items():
            sig = signature([i] + sorted(sub), details)
            if sig in seen_frames:
                keep -= set(sub)
            sigs.add(sig)
        seen_frames |= sigs
        ops += [tuple(details[i][:2]) for i in sorted(keep) if i in details]
    return ops


def main():
    plandir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "audit"
    rows = []
    for path in sorted(glob.glob(os.path.join(plandir, f"*_{suffix}.txt"))):
        key = os.path.basename(path)[: -len(f"_{suffix}.txt")]
        txt = open(path).read()
        ops = counted_ops(txt)
        names = [o for o, _ in ops]
        n_exch = names.count("Exchange")
        n_reuse = names.count("ReusedExchange")
        n_bcast = names.count("BroadcastExchange")
        n_smj = names.count("SortMergeJoin")
        n_bhj = names.count("BroadcastHashJoin")
        n_shj = names.count("ShuffledHashJoin")
        n_nlj = names.count("BroadcastNestedLoopJoin") + names.count("CartesianProduct")
        n_win = names.count("Window") + names.count("WindowGroupLimit")
        n_sort = names.count("Sort")
        n_gen = names.count("Generate")
        n_agg = sum(1 for o in names if o.endswith("Aggregate"))
        # scans per table, named from the scan's header line
        by_table = {}
        for op, rest in ops:
            if op != "Scan" or not rest:
                continue
            kind = rest.split()[0]
            m = re.search(r"(region|nation|customer|supplier|part\b|orders|"
                          r"lineitem|events|documents|embeddings)", rest)
            t = m.group(1) if m else (kind if kind != "parquet" else "?")
            by_table[t] = by_table.get(t, 0) + 1
        dup_scans = sum(v - 1 for v in by_table.values() if v > 1)
        rows.append((key, n_exch, n_reuse, n_bcast, n_smj, n_bhj, n_shj,
                     n_nlj, n_win, n_sort, n_gen, n_agg, dup_scans,
                     ",".join(f"{t}x{v}" for t, v in sorted(by_table.items())
                              if v > 1)))

    rows.sort(key=lambda r: (-r[12], -r[1]))
    print("key\texch\treuse\tbcast\tsmj\tbhj\tshj\tnlj\twin\tsort\tgen\tagg"
          "\tdup_scans\tdup_detail")
    for r in rows:
        print("\t".join(str(x) for x in r))


if __name__ == "__main__":
    main()
