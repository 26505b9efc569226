#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts: a parent and a change.

  python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N

Pair i (seed i) runs `python3 perfbench/run.py --workload W --seed i
--seconds S --trace 0`, S being BENCHMARK.json's `run_seconds`, once in each
checkout, the parent first on odd seeds and the change first on even ones,
so drift falls on both sides. Every run
is printed as it ends; then, per end-to-end metric of BENCHMARK.json (read
from the change), each side's median and quartiles, the change/parent ratio
of the medians, how many pairs the change won, and whether the gain rule
holds: the change wins at least nine tenths of the pairs (a tie counts for
neither side) and its median beats the parent's by more than the parent's
interquartile range. A claimed gain needs that line to read "holds". A
metric whose change median is worse than the parent's by more than its
bound is flagged REGRESSION; a run that is not correct is flagged too. Last,
per operation, each side's median seconds: each run's median over its timed
passes, read from the run's `.bench_build/work/<workload>/result.json`
(`passes[].ops_s`), then the median over the runs, so a gain names the
operation that moved. Exit status is 1 when anything is flagged. Nothing in either checkout is modified beyond what
perfbench itself writes (its build and work directories).
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    """One benchmark run in `checkout`: its result object, or None, and
    each operation's median seconds over the run's timed passes."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        print(f"  run failed in {checkout} (exit {p.returncode}): "
              f"{p.stderr.strip()[-400:]}", flush=True)
        return None, {}
    return json.loads(lines[-1]), op_medians(checkout, workload)


def op_medians(checkout, workload):
    """Per operation, the median of its seconds over the complete,
    untraced passes in the run's result.json."""
    path = os.path.join(checkout, ".bench_build", "work", workload, "result.json")
    try:
        res = json.load(open(path))
    except (OSError, ValueError):
        return {}
    passes = [p["ops_s"] for p in res.get("passes", [])
              if not p.get("traced") and len(p["ops_s"]) == len(res["ops"])]
    return {op: statistics.median(p[op] for p in passes)
            for op in res["ops"]} if passes else {}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}

    runs = {"parent": [], "change": []}
    ops = {"parent": [], "change": []}
    flagged = False
    for seed in range(1, a.pairs + 1):
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for side in order:
            res, per_op = run_once(sides[side], a.workload, seed, seconds)
            ops[side].append(per_op)
            if res is None or not res["correct"] or res["failed"]:
                flagged = True
                print(f"FLAG {side} seed={seed}: not correct: {res}", flush=True)
            vals = {k: v["value"] for k, v in (res or {}).get("metrics", {}).items()}
            runs[side].append(vals)
            print(f"{side:6s} seed={seed:<3d} correct={res and res['correct']} "
                  f"failed={res and res['failed']} " +
                  " ".join(f"{k}={v:.4g}" for k, v in vals.items()), flush=True)

    print(f"\nworkload {a.workload}: {a.pairs} pairs, {seconds:g} s runs")
    print(f"{'metric':12s} {'parent median [q1, q3]':>30s} "
          f"{'change median [q1, q3]':>30s} {'ratio':>7s} {'wins':>6s}")
    for m in bench["end_to_end"]:
        name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
        pairs = [(p[name], c[name]) for p, c in zip(runs["parent"], runs["change"])
                 if name in p and name in c]
        if not pairs:
            print(f"{name:12s} no complete pairs")
            flagged = True
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        pm, cm = statistics.median(ps), statistics.median(cs)
        wins = sum((c < p) if lower else (c > p) for p, c in pairs)
        worse = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
        flag = worse > bound
        flagged |= flag
        pq, cq = quartiles(ps), quartiles(cs)
        gap, iqr = (pm - cm) if lower else (cm - pm), pq[1] - pq[0]
        gain = wins >= 0.9 * len(pairs) and gap > iqr
        print(f"{name:12s} {pm:12.4g} [{pq[0]:.4g}, {pq[1]:.4g}]".ljust(44) +
              f"{cm:12.4g} [{cq[0]:.4g}, {cq[1]:.4g}]".ljust(31) +
              f"{cm / pm if pm else float('nan'):7.3f} {wins:3d}/{len(pairs)}" +
              (f"  REGRESSION: worse by {worse:.1%} > bound {bound:.0%}" if flag else ""))
        print(f"{'':12s} gain rule {'holds' if gain else 'does not hold'}: "
              f"wins {wins}/{len(pairs)} (needs {math.ceil(0.9 * len(pairs))}), "
              f"median gap {gap:.4g} vs parent IQR {iqr:.4g}")

    names = sorted({op for side in ops.values() for run in side for op in run})
    print(f"\n{'operation':24s} {'parent median s':>16s} {'change median s':>16s} {'ratio':>7s}")
    for op in names:
        pm, cm = (statistics.median(xs) if xs else float("nan") for xs in
                  ([r[op] for r in ops[s] if op in r] for s in ("parent", "change")))
        print(f"{op:24s} {pm:16.4g} {cm:16.4g} {cm / pm if pm else float('nan'):7.3f}")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
