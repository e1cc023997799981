#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, with the ROADMAP verdict.

    python3 tools/perf_pairs.py PARENT_DIR CHANGE_DIR --workload stream_fold \\
        --pairs 10 --seed0 500

PARENT_DIR and CHANGE_DIR are two checkouts (e.g. `git archive` copies).
Pair i runs `perfbench/run.py --workload W --seed SEED0+i --trace 0` in
both, the parent first on even i and the change first on odd i, with the
run length BENCHMARK.json sets. Per end-to-end metric it prints the
medians and the parent's quartiles over each side's successful runs, the
change's wins over ALL pairs run (a pair with a failed run is no win) and
a verdict:

  shown       the change is better in >= 90% of the pairs run, its median
              beats the parent's by more than the parent's IQR, and the
              change side failed no more runs than the parent side;
  not shown   otherwise;
  unresolved  the parent's IQR, relative to its median, exceeds the
              metric's BENCHMARK.json bound, so these runs cannot tell,
              unless every change run beats every parent run.

A last column says whether the change's median is within the bound of the
parent's. The failed runs of each side are printed first. The script
reads only PARENT_DIR/BENCHMARK.json and writes nothing in either
checkout beyond what run.py itself leaves in .bench_out/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """One run's result dict, or None when it failed or was incorrect."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {checkout} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
        return None
    result = json.loads(lines[-1])
    if not result.get("correct") or result.get("failed"):
        print(f"  {checkout} seed {seed}: correct={result.get('correct')} "
              f"failed={result.get('failed')}", file=sys.stderr)
        return None
    return {name: m["value"] for name, m in result["metrics"].items()}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["end_to_end"]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}

    pairs = []
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {side: run(sides[side], args.workload, seed, bench["run_seconds"]) for side in order}
        summary = "  ".join(f"{s}: " + (json.dumps(got[s]) if got[s] else "failed") for s in order)
        print(f"pair {i} seed {seed} ({order[0]} first)  {summary}", file=sys.stderr, flush=True)
        pairs.append(got)
    failed = {side: sum(p[side] is None for p in pairs) for side in sides}
    print(f"{args.workload}: {len(pairs)} pairs, failed runs: parent {failed['parent']}, "
          f"change {failed['change']}")
    if len(pairs) - max(failed.values()) < 2:
        sys.exit(1)

    print("| metric | parent median | parent IQR | change median | change wins | verdict "
          "| within bound |")
    print("|---|---|---|---|---|---|---|")
    for m in metrics:
        name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
        better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
        par = [p["parent"][name] for p in pairs if p["parent"]]
        chg = [p["change"][name] for p in pairs if p["change"]]
        med_p, med_c = statistics.median(par), statistics.median(chg)
        q1, q3 = quartiles(par)
        wins = sum(bool(p["parent"] and p["change"]
                        and better(p["change"][name], p["parent"][name])) for p in pairs)
        gap = (med_p - med_c) if lower else (med_c - med_p)
        rel = abs(med_p) if med_p else 1.0
        separated = all(better(c, p) for c in chg for p in par)
        if failed["change"] > failed["parent"]:
            verdict = "not shown"
        elif (q3 - q1) / rel > bound:
            verdict = "shown" if separated else "unresolved"
        elif wins >= 0.9 * len(pairs) and gap > q3 - q1:
            verdict = "shown"
        else:
            verdict = "not shown"
        within = -gap / rel <= bound
        print(f"| {name} | {med_p:.4g} | {q1:.4g}–{q3:.4g} | {med_c:.4g} | {wins}/{len(pairs)} "
              f"| {verdict} | {'yes' if within else 'NO'} |")

if __name__ == "__main__":
    main()
