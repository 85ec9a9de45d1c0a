"""Statistics and the per-layer ledger, computed from the harness's raw dump.

A timed call is a span [start, end]. Its children are the Spark jobs that
ran under it and the planning phases of the queries it executed. The
ledger splits every span's wall time into job time (the union of its job
intervals), planning outside jobs, and the rest: the Spark driver time that is
neither, such as file listing, commit renames and driver-side collects.
"""
import statistics

MODULES = ["sources", "operators", "Pipeline", "streaming", "queries"]
MODULE_METRICS = ["jobs", "stages", "tasks", "job_s", "task_run_s", "task_cpu_s",
                  "gc_s", "shuffle_write_bytes", "shuffle_write_s",
                  "shuffle_read_bytes", "shuffle_fetch_wait_s", "input_bytes",
                  "output_bytes"]


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, samples_beyond). With n samples that is the
    (n - beyond)-th smallest: exactly `beyond` samples lie above it. With
    no more than `beyond` samples no such percentile exists and the
    maximum is returned with 0 samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return xs[-1], 100.0, 0
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, beyond


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))


def driver_gap(window, jobs):
    """Wall time of a window minus the union of the job intervals in it."""
    return self_time(window, jobs)


def span_module(span):
    """Module of the timed call a span id names (`seq|name|fn|module`)."""
    parts = span.split("|") if span else []
    return parts[3] if len(parts) == 4 else None


def attribute(trace):
    """Module per job: the one the harness found in the job's call site;
    when there is none (a micro-batch job on a stream's own thread, say),
    the module of the timed call it ran under; None when neither exists.
    Returns {job_id: (module, source)}."""
    out = {}
    for j in trace["jobs"]:
        if j["module"]:
            out[j["id"]] = (j["module"], "call_site")
        elif span_module(j["span"]):
            out[j["id"]] = (span_module(j["span"]), "enclosing_call")
        else:
            out[j["id"]] = (None, "none")
    return out


def _job_interval(j, fallback_end):
    end = j["end_ms"] if j["end_ms"] >= 0 else fallback_end
    return (float(j["start_ms"]), float(end))


def span_ledger(trace):
    """Per timed call: wall, job union, planning outside jobs and self."""
    end = trace["end_ms"]
    jobs_by_span = {}
    for j in trace["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(_job_interval(j, end))
    planning = [(float(p["start_ms"]), float(p["end_ms"]))
                for p in trace["plans"] if p["end_ms"] > p["start_ms"]]
    rows = []
    for op in trace["ops"]:
        lo, hi = op["start_ms"], op["end_ms"]
        jobs = clip(jobs_by_span.get(op["span"], []), lo, hi)
        job_ms = union_length(jobs)
        plan_ms = union_length(clip(planning, lo, hi) + jobs) - job_ms
        rows.append({
            "span": op["span"], "fn": op["fn"], "ok": op["ok"],
            "wall_s": (hi - lo) / 1e3, "job_s": job_ms / 1e3,
            "driver_gap_s": driver_gap((lo, hi), jobs) / 1e3,
            "planning_s": plan_ms / 1e3,
            "other_driver_s": self_time((lo, hi), jobs + clip(planning, lo, hi)) / 1e3,
            "jobs": len(jobs_by_span.get(op["span"], [])),
        })
    return rows


def layer_metrics(trace):
    """Per-module and engine-wide counters of one traced pass."""
    end = trace["end_ms"]
    owner = attribute(trace)
    jobs = {j["id"]: j for j in trace["jobs"]}
    m = {f"{mod}.{name}": 0.0 for mod in MODULES for name in MODULE_METRICS}
    intervals = {mod: [] for mod in MODULES}
    unattributed, fallback = [], []
    for jid, (mod, how) in owner.items():
        iv = _job_interval(jobs[jid], end)
        if mod in intervals:
            intervals[mod].append(iv)
            m[f"{mod}.jobs"] += 1
        if mod is None:
            unattributed.append(iv)
        if how == "enclosing_call":
            fallback.append(iv)
    for mod in MODULES:
        m[f"{mod}.job_s"] = union_length(intervals[mod]) / 1e3
    for s in trace["stages"]:
        mod = owner.get(s["job"], (None, ""))[0]
        if mod not in intervals:
            continue
        m[f"{mod}.stages"] += 1
        m[f"{mod}.tasks"] += s["tasks"]
        m[f"{mod}.task_run_s"] += s["run_ms"] / 1e3
        m[f"{mod}.task_cpu_s"] += s["cpu_ns"] / 1e9
        m[f"{mod}.gc_s"] += s["gc_ms"] / 1e3
        m[f"{mod}.shuffle_write_bytes"] += s["shuffle_write_bytes"]
        m[f"{mod}.shuffle_write_s"] += s["shuffle_write_ns"] / 1e9
        m[f"{mod}.shuffle_read_bytes"] += s["shuffle_read_bytes"]
        m[f"{mod}.shuffle_fetch_wait_s"] += s["shuffle_fetch_wait_ms"] / 1e3
        m[f"{mod}.input_bytes"] += s["input_bytes"]
        m[f"{mod}.output_bytes"] += s["output_bytes"]
    ledger = span_ledger(trace)
    m["spark.planning_s"] = sum(
        p["analysis_ms"] + p["optimization_ms"] + p["planning_ms"]
        for p in trace["plans"]) / 1e3
    m["spark.driver_gap_s"] = sum(r["driver_gap_s"] for r in ledger)
    m["spark.unattributed_job_s"] = union_length(unattributed) / 1e3
    m["spark.enclosing_call_job_s"] = union_length(fallback) / 1e3
    return m, ledger
