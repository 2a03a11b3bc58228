#!/usr/bin/env python3
"""graft benchmark: one workload, closed loop, oracle-checked.

    python3 perfbench/run.py --workload NAME --seed N --seconds N --trace 0|1
    python3 perfbench/run.py --compare PARENT_RUNS CHANGE_RUNS
    python3 perfbench/run.py --summary RUNS

A run builds the library and the runner from source (sbt, once per
source state), copies the input tables (the repository's sf0.01 test
data, under data/) into its own directory, and starts one JVM at
local[<cores>] that sets up, runs a correctness pass and then timed
passes with one query in flight (see Runner.scala). The seed sets the
order of the queries in each pass. `--seconds` sets the number of timed
passes: seconds over the workload's nominal pass length (`pass_s` in
workloads.json), at least three, and at least four when traced so that
the passes with and without tracing come in ABBA order. Every result of the
correctness pass is compared with the DuckDB oracle. The last line of
stdout is one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. Both kinds are also printed by name and unit on
stderr, with the host-noise record; a traced run's untraced passes give
its end-to-end figures. Each run leaves a record under
.bench_build/perfbench/runs and, when traced, a span trace under
.bench_build/perfbench/traces.

`--compare` reads two directories of run records (parent, change) and
prints, per workload and end-to-end metric, both medians and quartiles,
the win fraction over alternating pairs and the verdict. `--summary`
prints the medians and spreads of one directory of records.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402

# a copy of the repository's sf0.01 reference tables (see TESTDATA.md):
# 60k lineitem rows, 10k events, 500 documents, 500 embeddings
DATA = os.path.join(HERE, "data", "sf0.01")
MIN_PASSES = 3      # per-query medians need three samples
MIN_TRACED_PASSES = 4  # untraced, traced, traced, untraced
HEAP = "3g"
BUILD_TIMEOUT_S = 840
JVM_TIMEOUT_S = 150
BUILD_INPUTS = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project/build.properties", "perfbench/src"]


def fail(message):
    print(f"perfbench: {message}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, log_path, **kw):
    """Runs `cmd` in its own process group with output to `log_path`;
    on timeout or interruption the whole group is killed and reaped."""
    with open(log_path, "w") as log:
        child = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL,
                                 start_new_session=True, **kw)
        try:
            return child.wait(timeout=timeout)
        except BaseException:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            raise


def tail_of(path, lines=15):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-lines:])


# -- build ----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        if os.path.isfile(path):
            files = [path]
        elif rel == "project":  # build definition only, not its outputs
            files = sorted(os.path.join(path, f) for f in os.listdir(path)
                           if os.path.isfile(os.path.join(path, f)))
        else:
            files = sorted(os.path.join(d, f)
                           for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the runner unless this source state is
    already built; returns the java command prefix."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isfile(
            os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala"))):
        fail("no graft sources beside the benchmark directory")
    launch = os.path.join(HERE, "target", "launch")
    stamp_path = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    built = os.path.isfile(os.path.join(launch, "classpath")) and \
        os.path.isfile(stamp_path) and open(stamp_path).read() == stamp
    if not built:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        log = os.path.join(WORK, "build.log")
        code = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          f"-Dsbt.global.base={os.path.join(WORK, 'sbt')}",
                          "writeLaunch"], BUILD_TIMEOUT_S, log, cwd=HERE, env=env)
        if code != 0:
            fail(f"build failed (exit {code}):\n{tail_of(log)}")
        with open(stamp_path, "w") as f:
            f.write(stamp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    with open(os.path.join(launch, "jvm-options")) as f:
        options = [o for o in f.read().split("\n") if o]
    with open(os.path.join(launch, "classpath")) as f:
        classpath = f.read().strip()
    return [java, *options, f"-Xmx{HEAP}", "-cp", classpath]


# -- host noise -------------------------------------------------------------

def cpu_ticks():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def host_record(start_ticks, started):
    steal0, total0 = start_ticks
    steal1, total1 = cpu_ticks()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"started": started, "loadavg_1_5_15": load,
            "cpu_steal_share": (steal1 - steal0) / max(total1 - total0, 1)}


# -- metrics ------------------------------------------------------------------

def per_query_walls(passes):
    walls = defaultdict(list)
    for p in passes:
        for row in p["queries"]:
            walls[row["name"]].append(row["wall_s"])
    return dict(walls)


def per_query_medians(passes):
    return {name: metrics.median(w) for name, w in per_query_walls(passes).items()}


def end_to_end(raw):
    """End-to-end metrics from the untraced timed passes, plus the
    figures that have no gate: the tail and its sample count, the JIT
    compiler threads' share of `cpu_s`, and peak memory (the resident-set
    high-water mark and the old generation's peak spread too widely
    between runs of one seed to gate on)."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    walls = per_query_medians(passes)
    values = {
        "wall_s": sum(walls.values()),
        "query_p50_s": metrics.median(list(walls.values())),
        "cpu_s": metrics.median([p["cpu_s"] for p in passes]),
        "setup_s": raw["setup_s"],
    }
    value, pct, n = metrics.tail([r["wall_s"] for p in passes for r in p["queries"]])
    extra = {"query_tail_s": value, "query_tail_percentile": pct,
             "query_samples": n, "timed_passes": len(passes),
             "jit_cpu_share": sum(p["jit_cpu_s"] for p in passes)
             / sum(p["cpu_s"] for p in passes),
             "memory": raw["memory"], "phase_end_s": raw["phase_end_s"],
             "staging_s": raw["staging_s"], "warmup_s": raw["warmup_s"],
             "query_walls_s": per_query_walls(passes)}
    return values, extra


def query_layers(row, rows_returned):
    """Per-layer figures of one traced query run."""
    c = defaultdict(float, row["counts"])
    jobs = row["jobs"]
    build_jobs = sum(1 for j in jobs if j[1] < row["exec_start_ms"])
    windows = [(j[1] / 1e3, j[2] / 1e3) for j in jobs]
    return {
        "build.s": row["build_s"], "build.jobs": build_jobs,
        "exec.s": row["exec_s"], "exec.jobs": len(jobs) - build_jobs,
        "spark.jobs": len(jobs), "spark.stages": len(row["stages"]),
        "spark.tasks": c["spark.tasks"], "spark.task_s": c["spark.task_s"],
        "spark.task_cpu_s": c["spark.task_cpu_s"],
        "spark.task_overhead_s": c["spark.task_s"] - c["spark.task_run_s"],
        "spark.gc_s": c["spark.gc_s"],
        "spark.driver_only_s": metrics.driver_only_seconds(
            row["wall_s"], row["start_ms"] / 1e3, row["end_ms"] / 1e3, windows),
        "catalyst.plan_s": c["catalyst.plan_s"],
        "catalyst.executions": c["catalyst.executions"],
        "codegen.compiles": c["codegen.compiles"],
        "scan.bytes": c["scan.bytes"], "scan.rows": c["scan.rows"],
        "scan.files": c["scan.files"],
        "plan.exchanges": c["plan.exchanges"],
        "plan.reused_exchanges": c["plan.reused_exchanges"],
        "plan.operator_rows": c["plan.operator_rows"],
        "plan.rows_returned": rows_returned,
        "shuffle.write_bytes": c["shuffle.write_bytes"],
        "shuffle.read_bytes": c["shuffle.read_bytes"],
        "shuffle.records": c["shuffle.records"],
        "spill.memory_bytes": c["spill.memory_bytes"],
        "spill.disk_bytes": c["spill.disk_bytes"],
        "checkpoint.bytes": c["checkpoint.bytes"],
        "checkpoint.blocks": c["checkpoint.blocks"],
        "write.bytes": c["write.bytes"], "write.rows": c["write.rows"],
        "write.files": c["write.files"],
        "jobs_outside_group": sum(1 for j in jobs if not j[3]),
    }


def per_layer(raw, rows_returned):
    """Per-layer metrics: workload sums per traced pass, averaged over
    the traced passes; `staging_s` times whichever staging the workload
    names, if any."""
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    rows = [query_layers(r, rows_returned.get(r["name"], 0))
            for p in traced for r in p["queries"]]
    sums = defaultdict(float)
    for r in rows:
        for k, v in r.items():
            sums[k] += v / len(traced)
    traced_wall = sum(per_query_medians(traced).values())
    plain_wall = sum(per_query_medians(plain).values())
    values = {
        "session.start_s": raw["session_start_s"],
        "staging_s": raw["staging_s"],
        "warmup_s": raw["warmup_s"],
    }
    for k in ["build.s", "build.jobs", "exec.s", "exec.jobs", "spark.jobs",
              "spark.stages", "spark.tasks", "spark.task_s", "spark.task_cpu_s",
              "spark.task_overhead_s", "spark.gc_s", "spark.driver_only_s"]:
        values[k] = sums[k]
    values["spark.busy_frac"] = sums["spark.task_s"] / (traced_wall * raw["cores"])
    for k in ["catalyst.plan_s", "catalyst.executions", "codegen.compiles",
              "scan.bytes", "scan.rows", "scan.files", "plan.exchanges",
              "plan.reused_exchanges"]:
        values[k] = sums[k]
    values["plan.rows_per_result"] = metrics.rows_per_result(
        [r["plan.operator_rows"] for r in rows],
        [r["plan.rows_returned"] for r in rows])
    for k in ["shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records",
              "spill.memory_bytes", "spill.disk_bytes",
              "checkpoint.bytes", "checkpoint.blocks", "write.bytes",
              "write.rows", "write.files"]:
        values[k] = sums[k]
    values["trace_overhead"] = traced_wall / plain_wall - 1
    return values


def spans(raw, workload):
    """run -> workload -> query -> build/exec -> job -> stage spans of
    the traced passes, one id space per run."""
    out = []

    def span(name, kind, parent, start, end, **attrs):
        out.append({"id": len(out), "parent": parent, "name": name, "kind": kind,
                    "start_ms": start, "end_ms": end, **attrs})
        return len(out) - 1

    rows = [(i, r) for i, p in enumerate(raw["passes"]) if p["traced"]
            for r in p["queries"]]
    run = span("run", "run", None, min(r["start_ms"] for _, r in rows),
               max(r["end_ms"] for _, r in rows))
    wl = span(workload, "workload", run, out[run]["start_ms"], out[run]["end_ms"])
    for pass_no, r in rows:
        q = span(r["name"], "query", wl, r["start_ms"], r["end_ms"], passNo=pass_no,
                 error=r["error"])
        phase = {"build": span("build", "build", q, r["start_ms"], r["exec_start_ms"]),
                 "exec": span("exec", "exec", q, r["exec_start_ms"], r["end_ms"])}
        job_span = {}
        for job_id, start, end, grouped in r["jobs"]:
            parent = phase["build" if start < r["exec_start_ms"] else "exec"]
            job_span[job_id] = span(f"job {job_id}", "job", parent, start, end,
                                    inGroup=grouped)
        for stage_id, job_id, start, end, tasks in r["stages"]:
            span(f"stage {stage_id}", "stage", job_span.get(job_id, q), start, end,
                 tasks=tasks)
    return out


# -- run ------------------------------------------------------------------------

def load_manifest(workload):
    with open(os.path.join(HERE, "workloads.json")) as f:
        manifest = json.load(f)
    if workload not in manifest["workloads"]:
        fail(f"unknown workload {workload!r}; have {sorted(manifest['workloads'])}")
    spec = manifest["workloads"][workload]
    outside = [q for q in spec["queries"] if q not in manifest["families"][workload]]
    if outside:
        fail(f"manifest: {workload} runs queries outside its family: {outside}")
    listed = [q for family in manifest["families"].values() for q in family]
    return spec, listed


def benchmark(args):
    started = datetime.datetime.now(datetime.timezone.utc).isoformat()
    ticks = cpu_ticks()
    spec, listed = load_manifest(args.workload)
    os.makedirs(WORK, exist_ok=True)
    java = build()

    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        data = os.path.join(run_dir, "tables")
        shutil.copytree(DATA, data)
        cores = len(os.sched_getaffinity(0))
        log = os.path.join(run_dir, "jvm.log")
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        code = run_child(java + [
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "graft.perfbench.Runner", "--manifest", ",".join(listed),
            "--data", data, "--out", run_dir, "--queries", ",".join(spec["queries"]),
            "--staging", spec["staging"], "--seed", str(args.seed),
            "--passes", str(max(MIN_TRACED_PASSES if args.trace else MIN_PASSES,
                                int(args.seconds // spec["pass_s"]))),
            "--cores", str(cores), "--trace", str(args.trace),
        ], JVM_TIMEOUT_S, log, env=env)
        if code != 0:
            fail(f"runner exited with {code}:\n{tail_of(log)}")
        with open(os.path.join(run_dir, "raw.json")) as f:
            raw = json.load(f)
        verdicts = oracle.check(data, os.path.join(run_dir, "results"),
                                raw["oracle_sql"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host = host_record(ticks, started)

    errors = [(c["name"], c["error"]) for c in raw["correctness"] if c["error"]]
    errors += [(r["name"], r["error"]) for p in raw["passes"]
               for r in p["queries"] if r["error"]]
    mismatches = [(n, msg) for n, (ok, _, msg) in verdicts.items() if not ok]
    attempted = len(raw["correctness"]) + sum(len(p["queries"]) for p in raw["passes"])
    failed = len(errors) + len(mismatches)
    e2e, extra = end_to_end(raw)
    extra["error_rate"] = failed / attempted
    rows_returned = {n: rows for n, (_, rows, _) in verdicts.items()}
    layers = per_layer(raw, rows_returned) if args.trace else None

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    shown = layers if args.trace else e2e
    names = [m["name"] for m in declared["per_layer" if args.trace else "end_to_end"]]
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": shown[n], "unit": units[n]} for n in names}}

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "host": host, "result": result,
              "end_to_end": e2e, "extra": extra, "per_layer": layers,
              "errors": errors, "mismatches": mismatches}
    stamp = started.replace(":", "").replace("+", "Z")[:17]
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{args.workload}-t{args.trace}-s{args.seed}-"
                           f"{stamp}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        trace = {"workload": args.workload, "seed": args.seed, "host": host,
                 "spans": spans(raw, args.workload),
                 "queries": [dict(name=r["name"], passNo=i, wall_s=r["wall_s"],
                                  **query_layers(r, rows_returned.get(r["name"], 0)))
                             for i, p in enumerate(raw["passes"]) if p["traced"]
                             for r in p["queries"]]}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump(trace, f)
        print(f"trace: {os.path.relpath(path, ROOT)}", file=sys.stderr)

    report(args.workload, e2e, extra, layers, units, host, errors, mismatches)
    print(json.dumps(result))


def report(workload, e2e, extra, layers, units, host, errors, mismatches):
    err = sys.stderr
    print(f"workload {workload}: host {json.dumps(host)}", file=err)
    for name, value in e2e.items():
        print(f"  {name:24s} {value:14.4f} {units[name]}", file=err)
    if extra["query_tail_s"] is None:
        print(f"  {'query_tail_s':24s} {'n/a':>14s} s  (only {extra['query_samples']} "
              "samples; a tail needs 10 beyond it)", file=err)
    else:
        print(f"  {'query_tail_s':24s} {extra['query_tail_s']:14.4f} s  (p"
              f"{extra['query_tail_percentile']:.1f} of {extra['query_samples']})", file=err)
    print(f"  {'error_rate':24s} {extra['error_rate']:14.4f} share", file=err)
    print(f"  {'jit_cpu_share':24s} {extra['jit_cpu_share']:14.4f} share of cpu_s",
          file=err)
    print(f"  {'peak_rss_mb':24s} {extra['memory']['vm_hwm_mb']:14.4f} MB  (VmHWM)", file=err)
    print(f"  {'old_gen_peak_mb':24s} {extra['memory']['old_gen_peak_mb']:14.4f} MB", file=err)
    for name, value in (layers or {}).items():
        print(f"  {name:24s} {value:14.4f} {units[name]}", file=err)
    for name, msg in errors + mismatches:
        print(f"  FAILED {name}: {msg}", file=err)


# -- compare ----------------------------------------------------------------------

def load_records(path):
    records = []
    for name in sorted(os.listdir(path)):
        if name.endswith(".json"):
            with open(os.path.join(path, name)) as f:
                records.append(json.load(f))
    return sorted(records, key=lambda r: r["host"]["started"])


def values_by_workload(records):
    """{workload: {metric: [values in run order]}} from untraced runs."""
    out = defaultdict(lambda: defaultdict(list))
    for r in records:
        if not r["trace"]:
            for k, v in r["end_to_end"].items():
                out[r["workload"]][k].append(v)
    return out


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["end_to_end"]


def summary(path):
    table = {}
    for workload, by_metric in sorted(values_by_workload(load_records(path)).items()):
        for m in declared_metrics():
            vals = by_metric.get(m["name"], [])
            if vals:
                q1, med, q3 = metrics.quartiles(vals)
                table[f"{workload}/{m['name']}"] = {
                    "unit": m["unit"], "n": len(vals), "median": med, "q1": q1,
                    "q3": q3, "spread": metrics.spread(vals), "bound": m["bound"]}
    print(json.dumps(table, indent=1))


def compare(parent_dir, change_dir):
    parent = values_by_workload(load_records(parent_dir))
    change = values_by_workload(load_records(change_dir))
    print(f"{'workload':12s} {'metric':14s} {'parent median [q1,q3]':>30s} "
          f"{'change median [q1,q3]':>30s} {'wins':>6s}  verdict")
    for workload in sorted(set(parent) & set(change)):
        for m in declared_metrics():
            p, c = parent[workload].get(m["name"]), change[workload].get(m["name"])
            if not p or not c:
                continue
            v, wins = metrics.verdict(p, c, m["bound"], m["better"])
            fmt = "{1:.4g} [{0:.4g},{2:.4g}]".format
            print(f"{workload:12s} {m['name']:14s} {fmt(*metrics.quartiles(p)):>30s} "
                  f"{fmt(*metrics.quartiles(c)):>30s} {wins:6.2f}  {v}")


def main():
    # a terminated run still stops its JVM (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--compare", nargs=2, metavar=("PARENT_RUNS", "CHANGE_RUNS"))
    ap.add_argument("--summary", metavar="RUNS")
    args = ap.parse_args()
    if args.compare:
        compare(*args.compare)
    elif args.summary:
        summary(args.summary)
    elif None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    else:
        benchmark(args)


if __name__ == "__main__":
    main()
