#!/usr/bin/env python3
"""Benchmark of the trip pipeline and a catalog slice.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload trip_batches --seed 1 --seconds 10 --trace 0

Builds the program from `src/main/scala` (once per source digest, under
`.bench_build/`), generates the workload's inputs from the seed under
`.bench_work/`, runs the workload in one JVM with `local[<cores>]` and one
closed-loop client, checks the outputs, and prints a human summary on
stderr and one JSON result as the last line of stdout. `--trace 1` adds a
traced pass whose per-layer ledger is written to `.bench_work/`.
See `perfbench/RATIONALE.md` for the workloads and metrics.
"""
import argparse
import contextlib
import glob
import hashlib
import importlib.util
import io
import json
import os
import random
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen      # noqa: E402
import ledger   # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
def _spark_home():
    """SPARK_HOME, or else the first installation on PATH whose jars hold
    the Scala compiler the build needs."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
                return home
    return ""


SPARK_JARS = os.path.join(_spark_home(), "jars")
DEADLINE_S = 170
CATALOG_ENTRIES = ["q1_pricing", "q_weekly_avg", "q_upsert_events",
                   "q_span_remove", "q_dup_runs_char", "q_jaccard_curve",
                   "q_sessionize_stream"]
OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """Aggregate CPU ticks from /proc/stat: (total, steal). Steal is time the
    host gave the machine's CPUs to someone else."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return sum(fields), fields[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------

def _sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return prog, harness


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(out, classpath, srcs):
    """Compile `srcs` into `out` unless the stamp there matches them."""
    stamp = _digest(srcs) + classpath
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail(f"compilation into {out} failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


CLASSES = os.path.join(BUILD, "classes")
HARNESS_CLASSES = os.path.join(BUILD, "harness")


def build():
    """Compile the program, then the harness against it, with the Scala
    compiler that ships with Spark. Each step is skipped when its inputs
    are unchanged."""
    prog, harness = _sources()
    if not prog or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(f"no program sources under {ROOT}/src/main/scala; run from a checkout root")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {SPARK_JARS}")
    jars = os.path.join(SPARK_JARS, "*")
    if _compile(CLASSES, jars, prog):
        res = os.path.join(ROOT, "src/main/resources")
        if os.path.isdir(res):
            shutil.copytree(res, CLASSES, dirs_exist_ok=True)
        shutil.rmtree(HARNESS_CLASSES, ignore_errors=True)
    _compile(HARNESS_CLASSES, CLASSES + os.pathsep + jars, harness)


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

def seed_batch_rows(seed):
    """A small batch dated before the schedule's history: the first batch a
    fresh warehouse receives at set-up."""
    rng = random.Random(seed * 7919 + 1)
    rows = []
    for d in (-3, -2, -1):
        for s in rng.sample(range(86400), 100):
            rows.append(gen._trip(rng, d, s))
    return rows


def trip_batches_spec(seed, inp):
    man = gen.write_trip_batches(os.path.join(inp, "batches"), seed)
    seed_rows = seed_batch_rows(seed)
    seed_csv = os.path.join(inp, "seed.csv")
    gen.write_csv(seed_csv, seed_rows)
    seed_keys = len({gen.trip_key(r) for r in seed_rows})
    probe = gen.write_trip_batches(os.path.join(inp, "probe"), seed, gen.probe_batches)
    lines = [("setup_batch", seed_csv),
             ("expected_distinct", man["distinct_keys"] + seed_keys),
             ("probe_expected_distinct", probe["distinct_keys"] + seed_keys)]
    lines += [("batch", b["name"], b["path"]) for b in man["batches"]]
    lines += [("probe_batch", b["name"], b["path"]) for b in probe["batches"]]
    return lines, man


def catalog_slice_spec(seed, inp):
    tables = os.path.join(inp, "tables")
    gen.write_catalog_tables(tables, seed)
    results = os.path.join(inp, "results")
    os.makedirs(results)
    return [("tables", tables), ("results", results),
            ("entries", ",".join(CATALOG_ENTRIES))], None


SPECS = {"trip_batches": trip_batches_spec,
         "catalog_slice": catalog_slice_spec}


def write_spec(workload, seed, seconds, trace, work):
    """Generate a workload's inputs under `work` and the spec file the
    harness reads. Returns (spec path, spec lines, input manifest)."""
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "in")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(inp)
    lines, man = SPECS[workload](seed, inp)
    lines += [("workload", workload), ("seconds", seconds), ("trace", trace),
              ("cores", cores()), ("work", work),
              ("out", os.path.join(work, "raw.json"))]
    spec_path = os.path.join(work, "spec.tsv")
    with open(spec_path, "w") as f:
        for ln in lines:
            f.write("\t".join(str(x) for x in ln) + "\n")
    return spec_path, lines, man


def run_jvm(spec, work, timeout):
    """Run the harness on a spec file; returns (exit code, log path). The
    JVM is killed, and waited for, when it overruns `timeout` seconds."""
    tmp = os.path.join(work, "tmp")
    cp = os.pathsep.join([HARNESS_CLASSES, CLASSES, os.path.join(SPARK_JARS, "*")])
    cmd = ["java", "-XX:-UsePerfData"] + OPENS + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Dderby.system.home={tmp}",
        "-cp", cp, "org.apache.spark.perfbench.Main", spec]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            return proc.wait(timeout=max(10, timeout)), log_path
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return -9, log_path


# --------------------------------------------------------------------------
# checks
# --------------------------------------------------------------------------

def catalog_checks(tables, results):
    """Each entry against its oracle SQL in DuckDB, by the rule of the
    repo's `tools/check.py`."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    check.TABLES = ["lineitem", "orders", "events", "documents"]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(tables, results)
    out = []
    for line in buf.getvalue().splitlines():
        m = re.match(r"(PASS|FAIL) ([^\s:]+):? (.*)", line)
        if m:
            out.append({"name": f"oracle:{m.group(2)}", "ok": m.group(1) == "PASS",
                        "detail": m.group(3)})
    seen = {c["name"] for c in out}
    for e in CATALOG_ENTRIES:
        if f"oracle:{e}" not in seen:
            out.append({"name": f"oracle:{e}", "ok": False, "detail": "no result"})
    return out


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def op_kind(op):
    return op["span"].split("|")[1].split(":")[0]


def pass_total(ops):
    return sum((o["end_ms"] - o["start_ms"]) / 1e3 for o in ops)


def end_to_end(raw):
    return {
        "setup_s": ledger.median(raw["setup_s"]),
        "total_s": ledger.median([pass_total(p["ops"]) for p in raw["passes"]]),
        "heap_after_gc_mb": raw["heap"]["heap_after_gc_mb"],
    }


def workload_metrics(raw, man):
    """Figures of the untraced passes: per-call latencies and rates. Each
    is 0 on a workload that makes no such call."""
    ops = [o for p in raw["passes"] for o in p["ops"]]

    def walls(sel):
        return [(o["end_ms"] - o["start_ms"]) / 1e3 for o in ops if sel(o)]

    batch = walls(lambda o: o["fn"] == "Pipeline.runBatch")
    tail, _, beyond = ledger.tail(batch)
    probe = raw["probe"]
    m = {
        "probe.failed_calls": sum(not o["ok"] for o in probe["ops"]),
        "probe.failed_checks": sum(not c["ok"] for c in probe["checks"]),
        "jvm.heap_after_program_gc_mb": raw["heap"]["jvm.heap_after_program_gc_mb"],
        "op_fail_ratio": sum(not o["ok"] for o in ops) / len(ops),
        "batch_s_p50": ledger.median(batch), "batch_s_tail": tail,
        # reported in the summary and the ledger only: with 10 batches
        # per pass or fewer it is 0 on every run
        "batch_s_tail_beyond": beyond,
        "compact_s": ledger.median(walls(lambda o: o["fn"] == "Pipeline.compactHist")),
        "ingest_rows_per_s": man["rows"] * len(raw["passes"]) / sum(batch) if batch else 0.0,
    }
    for e in CATALOG_ENTRIES:
        m[f"queries.{e}_s"] = ledger.median(walls(lambda o, e=e: op_kind(o) == e))
    return m


def trace_metrics(raw, man):
    """Per-layer figures of the traced pass, and the span ledger."""
    tr = raw["trace"]
    m, rows = ledger.layer_metrics(tr)
    m["trace.overhead_ratio"] = pass_total(tr["ops"]) / pass_total(tr["untraced_after"])
    facts = tr["facts"]
    for k in ["write_amp", "space_amp", "operators.upsert_new_ratio",
              "operators.hist_scan_ratio", "Pipeline.view_buckets_rewritten",
              "sources.hist_files", "sources.hist_files_per_partition_max"]:
        m[k] = 0.0
    if raw["workload"] == "trip_batches":
        plans = tr["plans"]
        hist_writes = [p for p in plans if p["write_target"].endswith("/hist_trip_data")]
        view_writes = [p for p in plans if p["write_target"].endswith("/summarized_trip_data")]
        out_bytes = sum(m[f"{mod}.output_bytes"] for mod in ledger.MODULES)
        m["write_amp"] = out_bytes / sum(b["bytes"] for b in man["batches"])
        m["space_amp"] = facts["warehouse_bytes"] / man["distinct_csv_bytes"]
        m["operators.upsert_new_ratio"] = sum(p["written_rows"] for p in hist_writes) / man["rows"]
        m["operators.hist_scan_ratio"] = (sum(p["hist_scan_bytes"] for p in hist_writes)
                                          / facts["hist_bytes_on_disk_before_batches"])
        m["Pipeline.view_buckets_rewritten"] = sum(p["written_parts"] for p in view_writes)
        m["sources.hist_files"] = facts["hist_files"]
        m["sources.hist_files_per_partition_max"] = facts["hist_files_per_partition_max"]
    trig = tr["triggers"]
    te = [t["ms"].get("triggerExecution", 0) / 1e3 for t in trig]
    m.update({
        "streaming.triggers": len(trig),
        "streaming.trigger_s_p50": ledger.median(te),
        "streaming.add_batch_s": sum(t["ms"].get("addBatch", 0) for t in trig) / 1e3,
        "streaming.query_planning_s": sum(t["ms"].get("queryPlanning", 0) for t in trig) / 1e3,
        "streaming.wal_commit_s": sum(t["ms"].get("walCommit", 0) for t in trig) / 1e3,
        "streaming.latest_offset_s": sum(t["ms"].get("latestOffset", 0) for t in trig) / 1e3,
    })
    return m, rows


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_path):
        fail("no BENCHMARK.json in the working directory")
    with open(bench_path) as f:
        declared = json.load(f)
    build()
    # a run that builds may take longer; the rest of it keeps the deadline
    t_start = time.monotonic()

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}")
    spec_path, lines, man = write_spec(args.workload, args.seed, args.seconds,
                                       args.trace, work)
    ticks0 = cpu_ticks()
    t_jvm = time.monotonic()
    code, log_path = run_jvm(spec_path, work, DEADLINE_S - (time.monotonic() - t_start))
    ticks1 = cpu_ticks()
    t_end = time.monotonic()
    steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    spec = {ln[0]: ln[1] for ln in lines}
    raw_path = spec["out"]
    if code != 0 or not os.path.exists(raw_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness exited with {code} (log: {log_path})")
    with open(raw_path) as f:
        raw = json.load(f)

    checks = list(raw["checks"])
    if args.workload == "catalog_slice":
        checks += catalog_checks(spec["tables"], spec["results"])
    ops = ([o for p in raw["passes"] for o in p["ops"]] + raw["trace"].get("ops", [])
           + raw["trace"].get("untraced_after", []))
    failed_ops = [o for o in ops if not o["ok"]]

    metrics = end_to_end(raw)
    metrics.update(workload_metrics(raw, man))
    rows = []
    if args.trace:
        layer, rows = trace_metrics(raw, man)
        metrics.update(layer)
        with open(os.path.join(WORK, f"ledger-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"metrics": metrics, "spans": rows, "checks": checks}, f, indent=1)

    # human summary on stderr
    err = sys.stderr
    print(f"== {args.workload} seed={args.seed} cores={cores()} "
          f"passes={len(raw['passes'])} setups={len(raw['setup_s'])} "
          f"host steal {100 * steal:.1f}%", file=err)
    print(f"   time: inputs {t_jvm - t_start:.1f} s, jvm {t_end - t_jvm:.1f} s ("
          + ", ".join(f"{k} {v:.1f} s" for k, v in raw["phases_s"])
          + f"), checks after it {time.monotonic() - t_end:.1f} s", file=err)
    for c in checks:
        print(f"{'PASS' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}", file=err)
    for o in failed_ops:
        print(f"FAILED OP {o['span'].split('|')[1]} ({o['fn']}): {o['error']}", file=err)
    # the known-defect probe: reported by name, outside the measured result
    for c in raw["probe"]["checks"]:
        print(f"{'PASS' if c['ok'] else 'KNOWN DEFECT'} {c['name']}: {c['detail']}", file=err)
    for r in rows:
        print(f"  span {r['span'].split('|')[1]:<40} wall {r['wall_s']:.3f} = jobs {r['job_s']:.3f}"
              f" + planning {r['planning_s']:.3f} + other driver {r['other_driver_s']:.3f}"
              f" ({r['jobs']} jobs)", file=err)
    kind = "per_layer" if args.trace else "end_to_end"
    out = {}
    for d in declared["end_to_end"] + declared["per_layer"]:
        if d["name"] in metrics:
            print(f"  {d['name']:<44} {metrics[d['name']]:.6g} {d['unit']}", file=err)
    if args.workload == "trip_batches":
        print(f"  {'batch_s_tail_beyond':<44} {metrics['batch_s_tail_beyond']} count "
              f"(samples beyond batch_s_tail; 0: no percentile has 10)", file=err)
    for d in declared[kind]:
        if d["name"] not in metrics:
            fail(f"metric {d['name']} was not measured")
        out[d["name"]] = {"value": float(metrics[d["name"]]), "unit": d["unit"]}
    for d in glob.glob(os.path.join(work, "*")):
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({
        "correct": all(c["ok"] for c in checks) and not failed_ops,
        "attempted": len(ops), "failed": len(failed_ops), "metrics": out}))


if __name__ == "__main__":
    main()
