#!/usr/bin/env python3
"""Layered benchmark of graft's declared queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness (`perfbench/build.sbt`, sbt offline) and generates the inputs
under `.bench_build/`; later runs reuse both. Every run starts one JVM on
`local[nproc]`, sets the session up `SETUPS` times (or the workload's
`setups`), issues the workload's keys in a seeded order for a fixed
number of passes, checks every result
against `perfbench/expected/`, and prints one JSON line: with `--trace 0`
the end-to-end metrics, with `--trace 1` the per-layer metrics. The full
record (per key, per pass, spans, host disclosure) goes to
`.bench_build/results/<workload>/`. See perfbench/README.md.

Extra options: `--pool` runs every key of the workload's pool once (the
calibration the fixed key lists were drawn from); `--sf`, `--expected`
and `--keys` point the run at another scale factor, expected-output file
and key list (self-test); `--results` names the directory for the full
record.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import workloads as W  # noqa: E402

SETUPS = 7
# the first pass absorbs first-execution costs (JIT, codegen, lazy init)
# that a long-lived session pays once; it is checked but not timed
WARMUP_PASSES = 1
JVM_TIMEOUT_S = 170
JAVA_OPTS = [
    "-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC", "-Dlog4j2.level=WARN",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        h.update(open(p, "rb").read())
    return h.hexdigest()


def build():
    """Compile library + harness with sbt once per source state; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src"))):
        fail("no graft sources next to perfbench/ (run from the root of a checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "build.stamp")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = [f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}", "-Xmx2g", "-XX:-UsePerfData"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"], cwd=HERE, env=env,
                             stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (sbt exit {rc}); log in {log}")
    cp = lines[-1].strip()
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(stamp)
    return cp


# ---------------------------------------------------------------- inputs

def base_data(sf):
    d = os.path.join(BUILD, "data", f"sf{sf}")
    if not os.path.exists(os.path.join(d, "_READY")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, float(sf))
    return d


def llm_data(factor, seed):
    """The seeded llm_scale corpus; only the current seed's copy is kept."""
    root = os.path.join(BUILD, "data")
    d = os.path.join(root, f"llm_x{factor}_seed{seed}")
    if not os.path.exists(os.path.join(d, "_READY")):
        for old in os.listdir(root):
            if old.startswith("llm_x"):
                shutil.rmtree(os.path.join(root, old), ignore_errors=True)
        gen.synthesize(base_data(W.BASE_SF), d, factor, seed)
    return d


# ---------------------------------------------------------------- host

def _steal_s():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0


def _loadavg():
    return os.getloadavg()[0]


# ---------------------------------------------------------------- harness

def run_jvm(cp, args, log, timeout):
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={args['tmp']}", "-cp", cp,
                                  "perfbench.Harness", "run", args["args_file"]]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=os.path.dirname(args["tmp"]), stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"harness failed ({rc})")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--pool", action="store_true")
    ap.add_argument("--sf")
    ap.add_argument("--expected")
    ap.add_argument("--keys", help="comma-separated key list instead of the workload's")
    ap.add_argument("--results")
    a = ap.parse_args()
    wl = W.WORKLOADS[a.workload]

    cp = build()
    factor = wl.get("factor")
    if a.sf:
        data = base_data(a.sf)
        factor = None
    else:
        data = llm_data(factor, a.seed) if factor else base_data(W.BASE_SF)
    expected_file = a.expected or os.path.join(HERE, "expected", W.expected_name(a.sf, factor))
    expected = json.load(open(expected_file)) if os.path.exists(expected_file) else {}

    if a.keys:
        keys = a.keys.split(",")
    else:
        keys = W.pool(a.workload, W.declared_keys(cp, BUILD)) if a.pool else list(wl["keys"])
    random.Random(a.seed).shuffle(keys)
    warmup = 0 if a.pool else WARMUP_PASSES
    passes = 1 if a.pool else warmup + max(1, round(a.seconds / wl["pass_s"]))

    run_id = uuid.uuid4().hex[:12]
    rdir = os.path.join(BUILD, "runs", run_id)
    tmp = os.path.join(rdir, "tmp")
    os.makedirs(tmp)
    args = {"data": data, "keys": keys, "passes": passes, "setups": wl.get("setups", SETUPS),
            "staging": wl["staging"], "trace": bool(a.trace),
            "outputs": os.path.join(rdir, "outputs") if a.trace else None,
            "out": os.path.join(rdir, "raw.json"), "tmp": tmp,
            "args_file": os.path.join(rdir, "args.json")}
    json.dump(args, open(args["args_file"], "w"))

    host = {"nproc": os.cpu_count(), "loadavg_start": _loadavg()}
    steal0, t0 = _steal_s(), time.time()
    try:
        run_jvm(cp, args, os.path.join(rdir, "harness.log"), 3600 if a.pool else JVM_TIMEOUT_S)
        raw = json.load(open(args["out"]))
        host.update(loadavg_end=_loadavg(), steal_s=round(_steal_s() - steal0, 2),
                    run_wall_s=round(time.time() - t0, 2))
        import metrics as M  # needs the repo's tools/, so only after the build check
        res = M.evaluate(raw, expected, a.trace, args["outputs"], run_id, warmup)
    finally:
        shutil.rmtree(rdir, ignore_errors=True)

    res.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
               passes=passes, warmup_passes=warmup, keys=keys, host=host, data=os.path.relpath(data, ROOT),
               expected=os.path.relpath(expected_file, ROOT))
    out_dir = a.results or os.path.join(BUILD, "results", a.workload)
    os.makedirs(out_dir, exist_ok=True)
    name = f"{'pool' if a.pool else 'run'}-seed{a.seed}-trace{a.trace}-{run_id}.json"
    json.dump(res, open(os.path.join(out_dir, name), "w"), indent=1)
    print(f"[perfbench] host {json.dumps(host)}; record {os.path.join(out_dir, name)}", file=sys.stderr)
    for k in res["mismatches"]:
        print(f"[perfbench] FAILED {k}", file=sys.stderr)

    shown = W.PER_LAYER if a.trace else W.END_TO_END
    line = {"correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {n: {"value": res["metrics"][n], "unit": u} for n, u in shown}}
    print(json.dumps(line))


if __name__ == "__main__":
    main()
