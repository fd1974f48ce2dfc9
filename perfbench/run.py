#!/usr/bin/env python3
"""graft workflow benchmark.

    python3 perfbench/run.py --workload series_loop --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --conf-robustness

Run from the repository root. Builds graft and the harness (build.py),
writes the workload's inputs from the seed (inputs.py), runs one JVM that
sets the session up and times passes of the workload
(scala/perfbench/Main.scala), checks every output, and prints as its last
line one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The full record, with the per-module breakdown, is kept under
.bench_build/records/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import build  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("series_loop", "panel_scale", "curate")
JVM_LIMIT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# the op whose latency is the workload's op_p50_ms: the call a user of the
# workflow repeats
RECURRING_OP = {"series_loop": {"candidate"}, "panel_scale": None,
                "curate": {"cli.day2_incremental"}}
CONF_VARIANTS = [{"spark.sql.autoBroadcastJoinThreshold": "-1"},
                 {"spark.sql.adaptive.enabled": "false"}]


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().strip()


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: the share of time the host gave
    to other guests, which slows a run without any change in the program."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def source_id(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        if r.returncode == 0:
            return {"git_head": r.stdout.strip()}
    except (OSError, subprocess.TimeoutExpired):
        pass
    main, own = build.sources(root)
    return {"git_head": None, "source_sha256": build.digest(root, main + own)}


def run_jvm(classpath, work, workload, seconds, trace, conf=None, limit=JVM_LIMIT_S):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    record = os.path.join(work, "record.json")
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath,
              "perfbench.Main", f"workload={workload}", f"inputs={work}", f"out={record}",
              f"seconds={seconds}", f"trace={trace}",
              "conf=" + ";".join(f"{k}={v}" for k, v in (conf or {}).items()),
              f"launched={time.time() * 1000.0!r}"])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(record):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-3000:])
        raise RuntimeError(f"benchmark JVM ended with {rc}")
    with open(record) as f:
        return json.load(f)


def check_outputs(rec, expected_path):
    """Same (generator, seed) gives the same checksum and the same day gives
    the same curate funnel in every pass and in every run on the same
    inputs."""
    problems = []
    seen = {}
    for p in rec["passes"]:
        for i in p["ops"]:
            o = rec["ops"][i]
            for field in ("checksum", "funnel"):
                if field in o:
                    key = f"{o['name']}|{o.get('key', '')}|{field}"
                    if key in seen and seen[key] != o[field]:
                        problems.append(f"{key} changed between passes")
                    seen.setdefault(key, o[field])
    if os.path.exists(expected_path):
        with open(expected_path) as f:
            expected = json.load(f)
        for k, v in seen.items():
            if k in expected and expected[k] != v:
                problems.append(f"{k} differs from an earlier run on the same inputs")
    else:
        os.makedirs(os.path.dirname(expected_path), exist_ok=True)
        with open(expected_path, "w") as f:
            json.dump(seen, f, indent=1, sort_keys=True)
    return problems


def wall(x):
    return x["end"] - x["start"]


def end_to_end(workload, rec, sizes):
    """The gated times are wall times, each divided by the host's slowdown
    over its own interval: what the run would have taken on the quiet
    reference host. The wall times themselves are in the detail."""
    measured = [p for p in rec["passes"] if p["kind"] == "measured"]
    names = RECURRING_OP[workload]
    recurring = [o for o in pass_ops(rec, measured)
                 if o["ok"] and (names is None or o["name"] in names)]
    lat = [wall(o) for o in recurring]
    setup_s = rec["setup_ms"] / 1000.0
    pass_s = statistics.median(wall(p) for p in measured) / 1000.0
    op_ms = statistics.median(lat) if lat else float("nan")
    probe = rec["host_probe"]

    def adjusted(x):
        return wall(x) / analysis.host_slowdown(probe, x["start"], x["end"])

    slow_setup = analysis.host_slowdown(probe, 0.0, measured[0]["start"])
    slow_pass = statistics.median(
        analysis.host_slowdown(probe, p["start"], p["end"]) for p in measured)
    metrics = {
        "setup_s": (setup_s / slow_setup, "s"),
        "pass_s": (statistics.median(adjusted(p) for p in measured) / 1000.0, "s"),
        "op_p50_ms": (statistics.median(adjusted(o) for o in recurring)
                      if recurring else float("nan"), "ms"),
        "live_heap_mb": (statistics.median(p["live_heap_mb"] for p in measured), "MB"),
    }
    # wall times as measured, and the per-workload figures named after the
    # workflow, kept in the record
    detail = {"host_slowdown_setup": slow_setup, "host_slowdown_pass": slow_pass,
              "setup_wall_s": setup_s, "pass_wall_s": pass_s,
              "op_wall_p50_ms": op_ms, "peak_rss_mb": rec["peak_rss_mb"],
              "op_samples": len(lat),
              "pass_cpu_s": statistics.median(p["cpu_ms"] for p in measured) / 1000.0}
    t = analysis.tail(lat)
    if workload == "series_loop":
        detail["loop_wall_s"] = pass_s
        detail["candidate_p50_s"] = op_ms / 1000.0
        if t:
            detail[f"candidate_p{t[1]:.0f}_s"] = t[0] / 1000.0
    elif workload == "panel_scale":
        detail["panel_rows_per_s"] = sizes["rows"] / pass_s
    else:
        day1 = [wall(o) for o in pass_ops(rec, measured) if o["ok"] and o["name"] == "cli.day1"]
        if day1:
            detail["curate_docs_per_s"] = sizes["day1_docs"] / (statistics.median(day1) / 1000.0)
        if lat:
            detail["curate_incr_docs_per_s"] = sizes["day2_docs"] / (op_ms / 1000.0)
    return metrics, detail


def pass_ops(rec, passes):
    return [rec["ops"][i] for p in passes for i in p["ops"]]


def tracing_overhead(rec, traced, untraced):
    """Traced minus untraced wall time over the operations both passes ran."""
    t = {}
    for o in pass_ops(rec, traced):
        t.setdefault(o["name"], []).append(wall(o))
    u = {}
    for o in pass_ops(rec, untraced):
        u.setdefault(o["name"], []).append(wall(o))
    common = [n for n in t if n in u and len(t[n]) == len(u[n])]
    return sum(sum(t[n]) - sum(u[n]) for n in common)


PER_LAYER_UNITS = {"plan_ms": "ms", "jobs": "count", "tasks": "count",
                   "executor_cpu_ms": "ms", "shuffle_mb": "MB", "spill_mb": "MB",
                   "driver_ms": "ms", "io_self_ms": "ms", "leaked_rdds": "count",
                   "trace_overhead_ms": "ms"}


def per_layer(workload, rec):
    traced = [p for p in rec["passes"] if p["kind"] == "traced"]
    engine, spans_by_name, layers, accounting = [], {}, {}, []
    for p in traced:
        spans, jobs, queries = analysis.pass_slice(rec, p)
        rows, unattributed = analysis.breakdown(spans, jobs, queries)
        e = {"plan_ms": sum(r["plan_ms"] for r in rows),
             "jobs": sum(r["jobs"] for r in rows), "tasks": sum(r["tasks"] for r in rows),
             "executor_cpu_ms": sum(r["cpu_ms"] for r in rows),
             "shuffle_mb": sum(r["shuffle_mb"] for r in rows),
             "spill_mb": sum(r["spill_mb"] for r in rows),
             "driver_ms": sum(r["driver_ms"] for r in rows),
             "io_self_ms": sum(r["self_ms"] for r in rows if r["layer"] == "io")}
        engine.append(e)
        per_pass_layer = {}
        for r in rows:
            spans_by_name.setdefault(r["name"], []).append(r["wall_ms"])
            acc = per_pass_layer.setdefault(r["layer"], dict.fromkeys(analysis.COUNTERS, 0.0))
            for c in analysis.COUNTERS:
                acc[c] += r[c]
        for layer, acc in per_pass_layer.items():
            for c, v in acc.items():
                layers.setdefault(f"{layer}.{c}", []).append(v)
        top = sum(r["wall_ms"] for r in rows if r["top"])
        accounting.append({"pass_wall_ms": wall(p), "top_span_wall_ms": top,
                           "self_ms": sum(r["self_ms"] for r in rows),
                           "driver_ms": e["driver_ms"], "unspanned_ms": wall(p) - top,
                           "unattributed_jobs": unattributed["jobs"]})
    ops = pass_ops(rec, traced)
    overhead = tracing_overhead(
        rec, [p for p in rec["passes"] if p["kind"] == "overhead_traced"],
        [p for p in rec["passes"] if p["kind"] == "overhead_untraced"])
    metrics = {k: (statistics.median(e[k] for e in engine), PER_LAYER_UNITS[k])
               for k in engine[0]}
    metrics["leaked_rdds"] = (max(o["leaked_rdds"] for o in ops), "count")
    metrics["trace_overhead_ms"] = (overhead, "ms")
    detail = {f"{workload}.{n}_ms": statistics.median(v) for n, v in spans_by_name.items()}
    detail.update({f"{workload}.{k}": statistics.median(v) for k, v in layers.items()})
    detail[f"{workload}.core.leaked_rdds"] = metrics["leaked_rdds"][0]
    detail["trace_overhead_ms"] = overhead
    detail["accounting"] = accounting
    return metrics, detail


def build_classpath(root, build_dir):
    classes, jars = build.build(root, build_dir)
    return classes + os.pathsep + os.path.join(jars, "*")


def measure(args, root):
    build_dir = os.path.join(root, ".bench_build")
    try:
        classpath = build_classpath(root, build_dir)
    except RuntimeError as e:
        sys.stderr.write(f"perfbench: build failed: {e}\n")
        return 2
    run_name = f"{args.workload}-s{args.seed}-trace{args.trace}"
    work = os.path.join(build_dir, "work", f"{run_name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        sizes = inputs.make(args.workload, args.seed, work)
        sizes["sha256"] = inputs.digest(work)
        load0, ticks0 = loadavg(), cpu_ticks()
        rec = run_jvm(classpath, work, args.workload, args.seconds, args.trace)
        load1, ticks1 = loadavg(), cpu_ticks()
    except RuntimeError as e:
        sys.stderr.write(f"perfbench: {e}\n")
        return 1
    finally:
        log = os.path.join(work, "jvm.log")
        if os.path.exists(log):
            os.makedirs(os.path.join(build_dir, "records"), exist_ok=True)
            shutil.copy(log, os.path.join(build_dir, "records", f"{run_name}.log"))
        shutil.rmtree(work, ignore_errors=True)

    problems = check_outputs(rec, os.path.join(
        build_dir, "expected", f"{args.workload}-{sizes['sha256'][:16]}.json"))
    attempted = len(rec["ops"])
    failed = sum(1 for o in rec["ops"] if not o["ok"])
    for o in rec["ops"]:
        if not o["ok"]:
            problems.append(f"{o['name']} failed: {o.get('error')}")
    if args.trace:
        metrics, detail = per_layer(args.workload, rec)
    else:
        metrics, detail = end_to_end(args.workload, rec, sizes)
    detail["fail_ratio"] = failed / attempted
    fingerprint = {"loadavg_start": load0, "loadavg_end": load1,
                   "cpu_steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
                   "nproc": os.cpu_count(),
                   "jvm": rec["jvm"], "spark": rec["spark_version"], "cores": rec["cores"],
                   "seed": args.seed, "workload": args.workload, "inputs": sizes,
                   "seconds": args.seconds, "trace": args.trace,
                   "storage_release": "between passes only, never between operations",
                   **source_id(root)}
    records = os.path.join(build_dir, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{run_name}.json"), "w") as f:
        json.dump({"fingerprint": fingerprint, "detail": detail, "problems": problems,
                   "record": rec}, f)
    for p in problems:
        sys.stderr.write(f"perfbench: {p}\n")
    print(json.dumps({"fingerprint": fingerprint, "detail": detail}))
    # a metric with no sample (every such operation failed) prints as null
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": None if v != v else v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))
    return 0


def conf_robustness(root):
    """One checked pass of each workload under each standard conf variant.
    Not part of the timed runs; lists every failure it hits."""
    build_dir = os.path.join(root, ".bench_build")
    classpath = build_classpath(root, build_dir)
    report = []
    for conf in CONF_VARIANTS:
        for w in WORKLOADS:
            work = os.path.join(build_dir, "work", f"conf-{w}-{os.getpid()}")
            shutil.rmtree(work, ignore_errors=True)
            try:
                inputs.make(w, 1, work)
                rec = run_jvm(classpath, work, w, 0, 0, conf=conf, limit=600)
                fails = [{"op": o["name"], "error": o.get("error")}
                         for o in rec["ops"] if not o["ok"]]
                entry = {"conf": conf, "workload": w, "attempted": len(rec["ops"]),
                         "failures": fails}
            except RuntimeError as e:
                entry = {"conf": conf, "workload": w, "attempted": 0,
                         "failures": [{"op": "process", "error": str(e)}]}
            finally:
                shutil.rmtree(work, ignore_errors=True)
            report.append(entry)
            print(json.dumps(entry), flush=True)
    with open(os.path.join(build_dir, "conf_robustness.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--conf-robustness", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    if args.conf_robustness:
        return conf_robustness(root)
    if not args.workload:
        ap.error("--workload is required")
    return measure(args, root)


if __name__ == "__main__":
    sys.exit(main())
