#!/usr/bin/env python3
"""Compare two traced-run artifacts layer by layer.

    python3 perfbench/layer_diff.py BEFORE.json AFTER.json

Both files are .bench_out/<workload>-seed<n>-trace1.json artifacts of
perfbench/run.py. Spans are grouped by name; for each name the table
shows both runs' self time (span time not covered by child spans), job
count, shuffle bytes written and output rows, and the change in self
time. Then every per-layer metric that differs. Rows are sorted by the
size of the self-time change, so the first rows name where time went.
"""
import json
import sys
from collections import defaultdict


def by_name(record):
    agg = defaultdict(lambda: defaultdict(float))
    for s in record.get("spans", []):
        a = agg[s["name"]]
        a["n"] += 1
        a["self_s"] += s["self_s"]
        c = s["counters"]
        a["jobs"] += c["jobs"]
        a["shuffle_bytes"] += c["shuffle_write_bytes"]
        a["rows_out"] += c["output_records"]
    return agg


def fmt(x):
    if abs(x) >= 1e6:
        return f"{x / 1e6:.2f}M"
    if abs(x) >= 1e3:
        return f"{x / 1e3:.1f}k"
    return f"{x:.3g}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = (json.load(open(p)) for p in sys.argv[1:])
    for r, p in ((a, sys.argv[1]), (b, sys.argv[2])):
        if not r.get("spans"):
            sys.exit(f"{p} holds no spans: make it with --trace 1")
    if a["workload"] != b["workload"]:
        print(f"warning: workloads differ ({a['workload']} vs {b['workload']})")
    sa, sb = by_name(a), by_name(b)
    rows = []
    for name in set(sa) | set(sb):
        x, y = sa.get(name, defaultdict(float)), sb.get(name, defaultdict(float))
        rows.append((y["self_s"] - x["self_s"], name, x, y))
    rows.sort(key=lambda r: -abs(r[0]))
    head = ("span", "n", "self_s", "jobs", "shuffle_B", "rows_out", "d_self_s")
    print("%-52s %9s %15s %11s %17s %17s %9s" % head)
    for d, name, x, y in rows:
        pair = lambda k: f"{fmt(x[k])}>{fmt(y[k])}"
        print("%-52s %9s %15s %11s %17s %17s %+9.3f" % (
            name[:52], pair("n"), pair("self_s"), pair("jobs"),
            pair("shuffle_bytes"), pair("rows_out"), d))
    print()
    la, lb = a.get("per_layer", {}), b.get("per_layer", {})
    print("%-32s %14s %14s %9s" % ("per-layer metric", "before", "after", "change"))
    for k in la:
        if k in lb and la[k] != lb[k]:
            ch = f"{(lb[k] - la[k]) / la[k]:+.1%}" if la[k] else "new"
            print("%-32s %14s %14s %9s" % (k, fmt(la[k]), fmt(lb[k]), ch))


if __name__ == "__main__":
    main()
