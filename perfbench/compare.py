#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py <set A> <set B>

A set is a directory of full records written by run.py (for example a
copy of `.bench_build/results/`), searched recursively; calibration
(`pool-*`) records are skipped. For every workload and metric it prints
each side's median and quartiles, the pair-win fraction (the share of
(a, b) run pairs in which B is better than A, ties counting one half) and
marks an end-to-end metric "unresolved" when either side's run-to-run
spread (interquartile range / median) is wider than its bound in
BENCHMARK.json. Per-layer metrics have no bound, so they are never
marked. It also prints the tracing overhead (traced wall_s minus untraced
wall_s) and the host disclosure (steal, loadavg) of each side.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import workloads as W  # noqa: E402


def load(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "**", "*.json"), recursive=True)):
        if os.path.basename(p).startswith("pool-"):
            continue
        try:
            r = json.load(open(p))
        except ValueError:
            continue
        if "workload" in r and "metrics" in r:
            runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else 0.0


def pair_win(a, b, lower_better):
    wins = 0.0
    for x in a:
        for y in b:
            if x == y:
                wins += 0.5
            elif (y < x) == lower_better:
                wins += 1
    return wins / (len(a) * len(b))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    higher = {m["name"] for m in spec["end_to_end"] + spec["per_layer"] if m["better"] == "higher"}
    A, B = load(args.a), load(args.b)
    fmt = "{:<28} {:>6} {:>32} {:>32} {:>6}  {}"
    for wl in sorted(set(A) | set(B)):
        print(f"\n== {wl}")
        print(fmt.format("metric", "unit", "A median [q1, q3]", "B median [q1, q3]", "B win", ""))
        for trace, names in ((0, W.END_TO_END), (1, W.PER_LAYER)):
            ra = [r for r in A.get(wl, []) if r["trace"] == trace]
            rb = [r for r in B.get(wl, []) if r["trace"] == trace]
            if not ra or not rb:
                continue
            for name, unit in names:
                xa = [r["metrics"][name] for r in ra]
                xb = [r["metrics"][name] for r in rb]
                cells = []
                for xs in (xa, xb):
                    q1, q2, q3 = quartiles(xs)
                    cells.append(f"{q2:.4g} [{q1:.4g}, {q3:.4g}] n={len(xs)}")
                wide = name in e2e and max(spread(xa), spread(xb)) > e2e[name]["bound"]
                flag = "unresolved" if wide else ""
                win = pair_win(xa, xb, name not in higher)
                print(fmt.format(name, unit, cells[0], cells[1], f"{win:.2f}", flag))
        for side, runs in (("A", A.get(wl, [])), ("B", B.get(wl, []))):
            walls = {t: [r["metrics"]["wall_s"] for r in runs if r["trace"] == t] for t in (0, 1)}
            if walls[0] and walls[1]:
                over = statistics.median(walls[1]) - statistics.median(walls[0])
                print(f"{side}: tracing overhead {over:+.3f} s on wall_s "
                      f"({statistics.median(walls[1]):.3f} traced vs {statistics.median(walls[0]):.3f})")
            if runs:
                steal = [r["host"].get("steal_s", 0) for r in runs]
                load_ = [r["host"]["loadavg_start"] for r in runs]
                print(f"{side}: {len(runs)} runs, nproc {runs[0]['host']['nproc']}, steal s "
                      f"median {statistics.median(steal):.2f} max {max(steal):.2f}, loadavg at start "
                      f"median {statistics.median(load_):.2f}, failed_frac max "
                      f"{max(r['metrics']['failed_frac'] for r in runs):.3f}")


if __name__ == "__main__":
    main()
