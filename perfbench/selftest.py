#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 (about two minutes).

    python3 perfbench/selftest.py

Checks that
  1. every named metric is emitted with its unit, untraced and traced;
  2. a forced wrong expected count registers in failed_frac;
  3. a traced run's spans nest (each child inside its parent, one run id),
     and its full outputs hash-match the DuckDB oracle.
Exits 0 when all checks pass.
"""
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

SF = "0.001"
# one relational key, one lake write, one streaming key: every layer has work
KEYS = ["agg_basic", "lake_merge", "stream_tumbling"]


def bench(out_dir, expected, trace, workload="lake_write"):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--sf", SF, "--expected", expected,
           "--keys", ",".join(KEYS), "--results", out_dir]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"benchmark run failed: {' '.join(cmd)}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    rec = json.load(open(max(glob.glob(os.path.join(out_dir, "*.json")), key=os.path.getmtime)))
    return line, rec


def main():
    work = os.path.join(run.BUILD, "selftest")
    os.makedirs(work, exist_ok=True)
    cp = run.build()
    sql = W.declared_keys(cp, run.BUILD)
    exp = oracle.expected(run.base_data(SF), {k: sql[k] for k in KEYS})
    good = os.path.join(work, "expected_good.json")
    json.dump(exp, open(good, "w"))
    bad = os.path.join(work, "expected_bad.json")
    wrong = dict(exp, **{KEYS[0]: dict(exp[KEYS[0]], rows=exp[KEYS[0]]["rows"] + 1)})
    json.dump(wrong, open(bad, "w"))
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    failures = []

    def check(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            failures.append(what)

    line, _ = bench(os.path.join(work, "untraced"), good, 0)
    check(line["correct"] and line["failed"] == 0, "untraced run is correct against the oracle")
    check(sorted(line["metrics"]) == sorted(n for n, _ in W.END_TO_END),
          "untraced run emits exactly the end-to-end metrics")
    check(all(v["unit"] == units[n] and isinstance(v["value"], (int, float))
              for n, v in line["metrics"].items()), "every end-to-end metric carries its unit")

    line, rec = bench(os.path.join(work, "traced"), good, 1)
    check(sorted(line["metrics"]) == sorted(n for n, _ in W.PER_LAYER),
          "traced run emits exactly the per-layer metrics")
    check(all(v["unit"] == units[n] for n, v in line["metrics"].items()),
          "every per-layer metric carries its unit")
    check(line["correct"], "traced run's full outputs hash-match the oracle")
    spans = rec["spans"]
    names = {s["name"].split(":")[0] for s in spans}
    check({"key", "operators.build", "exec.action", "exec.job", "plans.analysis",
           "streaming.trigger"} <= names, f"traced run records every span kind ({sorted(names)})")
    check(not metrics.nesting_errors(spans), "spans nest inside their parents")
    check(len({s["run_id"] for s in spans}) == 1, "spans share one run id")
    check(line["metrics"]["lake.commits"]["value"] > 0, "lake commits are seen")

    line, rec = bench(os.path.join(work, "forced"), bad, 0)
    frac = rec["metrics"]["failed_frac"]
    check(not line["correct"] and line["failed"] == line["attempted"] // len(KEYS)
          and abs(frac - 1 / len(KEYS)) < 1e-9,
          f"a forced wrong expected count registers in failed_frac ({line['failed']}/{line['attempted']})")

    print(f"\n{'PASS' if not failures else 'FAIL'}: {len(failures)} failed check(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
