"""Turns the harness's raw records into metrics, spans and the output check.

Every listener event carries an epoch-ms time; it is attributed to the key
whose window [start, next key's start) contains it, and through the key to
its pass. Counters are reported per pass (median over passes), so a run's
figures do not depend on how many passes it made.
"""
import bisect
import statistics

import oracle

MB = 1048576.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Value at the highest percentile with >= 10 samples beyond it, and that percentile.

    Below 21 samples that percentile would fall under the median, so the
    tail is the maximum."""
    if not xs:
        return 0.0, 0.0
    s = sorted(xs)
    n = len(s)
    if n <= 20:
        return s[-1], 100.0
    return s[n - 11], round(100.0 * (n - 10) / n, 2)


class Attributor:
    """Maps an epoch-ms time to the index of the key record running then."""

    def __init__(self, keys):
        self.starts = [k["start_ms"] for k in keys]

    def __call__(self, t):
        i = bisect.bisect_right(self.starts, t) - 1
        return i if i >= 0 else None


def _union_s(intervals, lo, hi):
    """Length in seconds of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def evaluate(raw, expected, trace, outputs, run_id, warmup):
    keys = raw["keys"]
    at = Attributor(keys)
    per_key = [dict(k, latency_s=k["build_s"] + k["action_s"], stages=[], jobs=[], actions=[],
                    triggers=[]) for k in keys]

    for s in raw["stages"]:
        i = at(s["end_ms"])
        if i is not None:
            per_key[i]["stages"].append(s)
    for j in raw.get("jobs", []):
        i = at(j["start_ms"])
        if i is not None:
            per_key[i]["jobs"].append(j)
    for q in raw.get("actions", []):
        starts = [p[0] for p in q["phases"].values()]
        i = at(min(starts)) if starts else None
        if i is not None:
            per_key[i]["actions"].append(q)
    for t in raw.get("triggers", []):
        i = at(t["start_ms"])
        if i is not None:
            per_key[i]["triggers"].append(t)

    # output check: row counts always, full-output hashes on traced runs
    hashes = oracle.output_hashes(outputs) if trace and outputs else {}
    mismatches = set()
    for k in per_key:
        exp = expected.get(k["key"])
        bad = k["error"] is not None or exp is None or k["rows"] != exp["rows"]
        if trace and exp is not None and hashes.get(k["key"]) != exp.get("sha256"):
            bad = True
        k["failed"] = bad
        if bad:
            mismatches.add(k["key"])

    for k in per_key:
        lo, hi = k["start_ms"], k["end_ms"]
        jobs = [(j["start_ms"], j.get("end_ms", hi)) for j in k["jobs"]]
        k["layers"] = {
            "operators.build_s": k["build_s"],
            "operators.build_jobs": sum(1 for j in k["jobs"] if j["start_ms"] <= k["build_end_ms"]),
            "plans.analysis_s": sum(_phase(q, "analysis") for q in k["actions"]),
            "plans.optimization_s": sum(_phase(q, "optimization") for q in k["actions"]),
            "plans.planning_s": sum(_phase(q, "planning") for q in k["actions"]),
            "plans.actions": len(k["actions"]),
            "exec.jobs": len(k["jobs"]),
            "exec.stages": len(k["stages"]),
            "exec.tasks": sum(s["tasks"] for s in k["stages"]),
            "exec.single_task_stages": sum(1 for s in k["stages"] if s["tasks"] == 1),
            "exec.busy_s": _union_s(jobs, lo, hi),
            "exec.task_run_s": sum(s["run_ms"] for s in k["stages"]) / 1000.0,
            "exec.gc_s": sum(s["gc_ms"] for s in k["stages"]) / 1000.0,
            "exec.shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in k["stages"]) / MB,
            "exec.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in k["stages"]) / MB,
            "exec.spill_mb": sum(s["spill_bytes"] for s in k["stages"]) / MB,
            "tables.input_mb": sum(s["input_bytes"] for s in k["stages"]) / MB,
            "tables.input_rows": sum(s["input_rows"] for s in k["stages"]),
            "task_cpu_s": sum(s["cpu_ns"] for s in k["stages"]) / 1e9,
            "write_mb": sum(s["output_bytes"] for s in k["stages"]) / MB,
            "streaming.triggers": len(k["triggers"]),
            "streaming.add_batch_ms": _dur(k, "addBatch"),
            "streaming.query_planning_ms": _dur(k, "queryPlanning"),
            "streaming.latest_offset_ms": _dur(k, "latestOffset"),
            "streaming.get_batch_ms": _dur(k, "getBatch"),
            "streaming.wal_commit_ms": _dur(k, "walCommit"),
            "streaming.commit_offsets_ms": _dur(k, "commitOffsets"),
            "streaming.state_rows": sum(t["state_rows"] for t in k["triggers"]),
            "streaming.state_mb": sum(t["state_bytes"] for t in k["triggers"]) / MB,
            "session.rdds_left": k["rdds_left"],
            "session.cache_entries_left": k["cache_entries_left"],
        }
        k["layers"]["exec.driver_gap_s"] = max(0.0, k["latency_s"] - k["layers"]["exec.busy_s"])
        f = k.get("files", {})  # traced runs only
        k["layers"].update({"lake.commits": f.get("lake_commits", 0),
                            "lake.log_kb": f.get("lake_log_bytes", 0) / 1024.0,
                            "lake.data_files": f.get("lake_data_files", 0)})

    # timing metrics come from the timed passes; the output check covers all
    timed = [k for k in per_key if k["pass"] >= warmup]
    passes = sorted({k["pass"] for k in timed})

    def per_pass(name):
        return median([sum(k["layers"][name] for k in timed if k["pass"] == p) for p in passes])

    lat = [k["latency_s"] for k in timed]
    q_tail, q_pct = tail(lat)
    trig = [t["duration_ms"].get("triggerExecution", 0) for k in timed for t in k["triggers"]]
    t_tail, t_pct = tail(trig)
    walls = [(b - a) / 1000.0 for a, b in raw["passes"][warmup:]]
    m = {
        "setup_s": median(raw["setup_s"]),
        "wall_s": median(walls),
        "query_p50_s": median(lat),
        "query_tail_s": q_tail,
        "retained_heap_mb": raw["retained_heap_mb"],
        "failed_frac": sum(k["failed"] for k in per_key) / max(1, len(per_key)),
        "trigger_p50_ms": median(trig),
        "trigger_tail_ms": t_tail,
        "trace.wall_s": median(walls),
        "session.threads_delta": raw["threads_delta"],
        "session.tmp_files_left": raw["tmp_files_left"],
    }
    for name in per_key[0]["layers"]:
        m[name] = per_pass(name)
    committing = [k for k in timed if k["layers"]["lake.commits"] > 0]
    commits = sum(k["layers"]["lake.commits"] for k in committing)
    m["lake.s_per_commit"] = sum(k["latency_s"] for k in committing) / commits if commits else 0.0

    out = {
        "run_id": run_id,
        "attempted": len(per_key),
        "failed": sum(k["failed"] for k in per_key),
        "mismatches": sorted(mismatches),
        "metrics": m,
        "samples": {"passes": len(walls), "keys": len(lat), "triggers": len(trig),
                    "query_tail_percentile": q_pct, "trigger_tail_percentile": t_pct,
                    "setups": len(raw["setup_s"])},
        "setup_s_all": raw["setup_s"],
        "pass_walls_s": [(b - a) / 1000.0 for a, b in raw["passes"]],
        "per_key": [{x: k[x] for x in ("key", "pass", "latency_s", "build_s", "action_s", "rows",
                                        "error", "failed", "layers")} for k in per_key],
    }
    if trace:
        out["spans"] = spans(per_key, run_id)
    return out


def _phase(q, name):
    p = q["phases"].get(name)
    return (p[1] - p[0]) / 1000.0 if p else 0.0


def _dur(k, name):
    return sum(t["duration_ms"].get(name, 0) for t in k["triggers"])


def spans(per_key, run_id):
    """key:<name> > operators.build | exec.action > plans.<phase> | exec.job | streaming.trigger.

    Self time is the span minus the union of its children (jobs of one
    key can overlap each other and a trigger's jobs)."""
    out = []

    def add(name, a, b, parent):
        sid = len(out)
        out.append({"id": sid, "parent": parent, "run_id": run_id, "name": name,
                    "start_ms": a, "end_ms": b})
        return sid

    for k in per_key:
        root = add(f"key:{k['key']}", k["start_ms"], k["end_ms"], None)
        build = add("operators.build", k["start_ms"], k["build_end_ms"], root)
        action = add("exec.action", k["build_end_ms"], k["end_ms"], root)

        def under(t):
            return build if t < k["build_end_ms"] else action
        for q in k["actions"]:
            for ph, (a, b) in sorted(q["phases"].items(), key=lambda x: x[1][0]):
                add(f"plans.{ph}", a, b, under(a))
        for j in k["jobs"]:
            add("exec.job", j["start_ms"], j.get("end_ms", k["end_ms"]), under(j["start_ms"]))
        for t in k["triggers"]:
            add("streaming.trigger", t["start_ms"],
                t["start_ms"] + t["duration_ms"].get("triggerExecution", 0), under(t["start_ms"]))
    children = {}
    for s in out:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in out:
        covered = _union_s(children.get(s["id"], []), s["start_ms"], s["end_ms"]) * 1000
        s["self_ms"] = s["end_ms"] - s["start_ms"] - covered
    return out


def nesting_errors(span_list, slack_ms=5):
    """Spans whose interval is not inside their parent's, or whose parent is missing."""
    by_id = {s["id"]: s for s in span_list}
    bad = []
    for s in span_list:
        if s["parent"] is None:
            continue
        p = by_id.get(s["parent"])
        if p is None or s["run_id"] != p["run_id"] or s["start_ms"] < p["start_ms"] - slack_ms \
                or s["end_ms"] > p["end_ms"] + slack_ms:
            bad.append(s)
    return bad

