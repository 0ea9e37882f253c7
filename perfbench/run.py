#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size full|tiny]

Workloads (sizes, loop shape and metric meanings: perfbench/README.md):

- ``m5_forecast``      the full M5Pipeline DAG, cold, at DAG parallelism N
- ``analytics_mix``    a fixed mix of declared queries, one closed-loop client
- ``curation_stream``  micro-batches through Incremental.curateBatchFuzzy

A run builds the engine and harness if needed (perfbench/build.py),
generates the workload's inputs from the seed twice (the mean time
counts as set-up; the two copies must be byte-identical), starts
one JVM with ``local[N]`` (N = usable cores), measures for ``--seconds``,
checks every output, and prints as its last stdout line one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a report with every metric under
its workload-specific name. A run that measures nothing (the sources do
not compile, the JVM dies or outlives its timeout) still prints the
line, with ``correct`` false and every metric null. Files are written
only under perfbench/.build, perfbench/.work and perfbench/.out.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
from gen import docs, m5, tables  # noqa: E402

# A run must end within this many seconds of the build; the JVM gets
# what is left after input generation, or a wide multiple of the
# measured time if that is less.
RUN_BUDGET_S = 170


def jvm_timeout(seconds, elapsed):
    return min(RUN_BUDGET_S - elapsed, 60 + 10 * seconds)


# ── workloads ─────────────────────────────────────────────────────────
# (the analytics mix itself is AnalyticsMix.Mix in the harness)
SIZES = {
    "m5_forecast": {
        "full": {"stores": 1, "items": 24, "days": 240},
        "tiny": {"stores": 1, "items": 8, "days": 120}},
    "analytics_mix": {"full": {"scale": 1.0}, "tiny": {"scale": 0.02}},
    "curation_stream": {
        "full": {"reference": 500, "batches": 6, "batch_size": 150},
        "tiny": {"reference": 200, "batches": 3, "batch_size": 20}},
}
GENERATORS = {"m5_forecast": m5.generate, "analytics_mix": tables.generate,
              "curation_stream": docs.generate}


# ── metric names (BENCHMARK.json lists the same, with bounds) ─────────
# The tail is in the report line and the per-layer metrics, not here: no
# listed workload gets the eleven operations a run the tail rule needs
# (m5_forecast measures one DAG), so it would be the max of a handful.
# The live heap is a per-layer metric, not here: after one DAG it reads
# 228 or 153 MB, as Spark happens to hold a finished job's task memory
# or not, so it cannot be bounded.
END_TO_END = {"setup_s": "s", "latency_p50_s": "s", "throughput_per_s": "1/s"}
PER_LAYER = {
    "jvm.live_heap_peak_mb": "MB",
    "dag.task_busy_s": "s", "dag.ready_wait_s": "s", "dag.critical_path_s": "s",
    "dag.utilization": "ratio",
    "m5.ingest_s": "s", "m5.base_features_s": "s", "m5.ts_features_s": "s",
    "m5.prepare_s": "s", "m5.gather_s": "s", "m5.submission_s": "s",
    "ml.train_s": "s", "ml.predict_s": "s", "ml.jobs_per_fit": "count",
    "io.bytes_written_per_input_byte": "ratio",
    "streaming.batch_s": "s", "streaming.jobs_per_batch": "count",
    "streaming.compactions": "count", "streaming.compact_batch_s": "s",
    "streaming.store_files": "count", "streaming.store_mb": "MB",
    "streaming.index_mb": "MB", "streaming.store_bytes_per_input_byte": "ratio",
    "dedup.exact_dropped": "count", "dedup.fuzzy_dropped": "count",
    "dedup.admit_ratio": "ratio",
    "quality.m5_wrmsse": "ratio", "quality.neardup_recall": "ratio",
    "quality.false_drop_rate": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB", "spark.input_mb": "MB",
    "spark.output_mb": "MB", "spark.failed_tasks": "count",
    **{f"spark.stage_s.{f}": "s" for f in [
        "M5Pipeline", "TweedieGbt", "HistTree", "Dedup", "Incremental", "Cut", "other"]},
    "cache.storage_peak_mb": "MB", "cache.evicted_blocks": "count",
    "latency.tail_s": "s", "latency.tail_pct": "%", "latency.samples": "count",
    "trace.latency_p50_s": "s",
}
# per-layer metrics only analytics_mix moves; its traced runs print them
# after PER_LAYER (it is not among the workloads BENCHMARK.json lists,
# see README.md)
MODULES = ["Relational", "TimeSeries", "Graph", "Profiling", "Evaluation", "Forecast",
           "Retail", "Sketch", "Sampling", "Similarity", "TextAnalysis", "Dedup"]
ANALYTICS_LAYERS = {
    "queries.plan_s": "s", "queries.exec_s": "s", "queries.exchanges": "count",
    **{f"queries.exec_s.{m}": "s" for m in MODULES},
    "spark.stage_s.harness": "s",
}


def layer_names(workload):
    return {**PER_LAYER, **(ANALYTICS_LAYERS if workload == "analytics_mix" else {})}
# the workload-specific names of the end-to-end figures, for the report
REPORT_NAMES = {
    "m5_forecast": {"latency_p50_s": "m5_dag_s", "latency_tail_s": "m5_dag_max_s",
                    "throughput_per_s": "dag_tasks_per_s"},
    "analytics_mix": {"latency_p50_s": "query_p50_s", "latency_tail_s": "query_tail_s",
                      "throughput_per_s": "queries_per_s"},
    "curation_stream": {"latency_p50_s": "batch_p50_s", "latency_tail_s": "batch_tail_s",
                        "throughput_per_s": "docs_per_s"},
}


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def tree_digest(path):
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, size, seed, work):
    """Generate the inputs twice; return (dir, mean seconds, byte-identical)."""
    gen, sizes = GENERATORS[workload], SIZES[workload][size]
    times, digests = [], []
    for i in range(2):
        d = os.path.join(work, f"in{i}")
        t0 = time.perf_counter()
        gen(d, seed, **sizes)
        times.append(time.perf_counter() - t0)
        digests.append(tree_digest(d))
    shutil.rmtree(os.path.join(work, "in1"))
    return os.path.join(work, "in0"), statistics.mean(times), len(set(digests)) == 1


def tail(samples):
    """Highest percentile with at least ten samples beyond it (the max
    when there are fewer than eleven): (value, percentile)."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def oracle_check(in_dir, res_dir):
    """Compare each query's first result with its OracleSql twin in
    DuckDB, with the rendering rules of .claude/skills/verify/check.py.
    Returns ({query: problem} for every query that does not match, the
    queries checked)."""
    import duckdb
    spec = importlib.util.spec_from_file_location(
        "verify_check", os.path.join(ROOT, ".claude", "skills", "verify", "check.py"))
    chk = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(chk)
    con = duckdb.connect()
    for t in chk.TABLES:
        p = os.path.join(in_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}')")
    with open(os.path.join(res_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(res_dir, "dumped.json")) as f:
        mix = json.load(f)
    bad = {}
    for q in mix:
        d = os.path.join(res_dir, q)
        if not os.path.isdir(d):
            bad[q] = "no first result (query failed)"
            continue
        try:
            s_arrow = con.execute(f"SELECT * FROM parquet_scan('{d}/*.parquet')").arrow()
            sdf = s_arrow.to_pandas()
            if q not in oracle:
                if len(sdf) == 0:
                    bad[q] = "rows-only check: 0 rows"
                continue
            o_arrow = con.execute(oracle[q]).arrow()
            odf = o_arrow.to_pandas()
        except Exception as e:  # unreadable output or oracle error
            bad[q] = f"{type(e).__name__}: {e}"
            continue
        sdf, odf = sdf[sorted(sdf.columns)], odf[sorted(odf.columns)]
        lint = chk.audit_types(q, s_arrow, o_arrow, sdf, odf)
        if lint:
            bad[q] = "; ".join(lint)
        elif list(sdf.columns) != list(odf.columns) or len(sdf) != len(odf):
            bad[q] = f"shape {list(sdf.columns)}x{len(sdf)} vs {list(odf.columns)}x{len(odf)}"
        elif chk.render_df(sdf) != chk.render_df(odf):
            first = next(i for i, (x, y) in enumerate(zip(chk.render_df(sdf),
                                                          chk.render_df(odf))) if x != y)
            bad[q] = f"row {first} differs"
    return bad, mix


def run_jvm(classpath, workload, in_dir, work, out, seconds, trace, cores, seed, timeout):
    """Run the harness JVM; return (result.json contents or None, exit
    code or None when it was killed at the timeout, seconds from the
    result file to the JVM's exit)."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
           + [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
              "--workload", workload, "--in", in_dir, "--work", work, "--out", out,
              "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
              "--seed", str(seed)])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        code = None
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] JVM killed at its {timeout:.0f} s timeout", file=sys.stderr)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    path = os.path.join(out, "result.json")
    if not os.path.exists(path):
        return None, code, None
    with open(path) as f:
        return json.load(f), code, time.time() - os.path.getmtime(path)


def emit(line, report, detail, out):
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump({**line, "report": report, "detail": detail}, f, indent=1)
    print(json.dumps({"report": report, "detail": detail}))
    print(json.dumps(line), flush=True)


def failed_run(args, out, why, detail):
    """The result line of a run that produced no measurement: incorrect,
    one failed operation, and every metric of the mode as null."""
    print(f"[perfbench] {why}", file=sys.stderr, flush=True)
    names = layer_names(args.workload) if args.trace else END_TO_END
    line = {"correct": False, "attempted": 1, "failed": 1,
            "metrics": {k: {"value": None, "unit": u} for k, u in names.items()}}
    emit(line, {}, {**detail, "failed_operations": [f"{args.workload}:run"], "error": why}, out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    # turn a SIGTERM into an exception, so the JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(HERE, ".work", args.workload)
    out = os.path.join(HERE, ".out", f"{args.workload}-s{args.seed}-t{args.trace}")
    cores = len(os.sched_getaffinity(0))
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "size": args.size, "sizes": SIZES[args.workload][args.size], "cores": cores}
    try:
        classpath = build.build()
    except build.CompileError as e:
        # the sources are there but do not compile: a failed run
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        failed_run(args, out, f"build failed: {e}", detail)
        return
    except build.BuildError as e:
        fail(f"cannot build: {e}")
    for d in (work, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)

    t_start = time.perf_counter()
    in_dir, gen_s, identical = generate(args.workload, args.size, args.seed, work)
    t_jvm = time.perf_counter()
    timeout = jvm_timeout(args.seconds, t_jvm - t_start)
    detail["jvm_timeout_s"] = timeout
    r, code, teardown = run_jvm(classpath, args.workload, in_dir, work, out, args.seconds,
                                args.trace, cores, args.seed, timeout)
    jvm_wall = time.perf_counter() - t_jvm
    if r is None:
        why = ("the JVM was killed at its timeout" if code is None
               else f"the JVM exited {code} without a result")
        failed_run(args, out, f"{why}; see {out}/jvm.log", detail)
        return

    checks = list(r["checks"])
    checks.append({"name": "all.inputs_deterministic", "ok": identical,
                   "detail": "two generations from the seed are byte-identical"})
    if args.workload == "analytics_mix":
        bad, mix = oracle_check(in_dir, os.path.join(out, "results"))
        checks += [{"name": q, "ok": q not in bad, "detail": bad.get(q, "matches oracle")}
                   for q in mix]
    # a failed check fails the operations it covers, named by the part of
    # the check's name before the first dot ("all" covers every one);
    # their time is dropped
    failed_scopes = {c["name"].split(".")[0] for c in checks if not c["ok"]}
    samples = list(zip(r["sample_names"], r["samples"]))

    def covered(name):
        return any(s == "all" or s in name.split(":") for s in failed_scopes)
    kept = [(n, s) for n, s in samples if not covered(n)]
    failed = sorted(set(r["failed"]) | {n for n, _ in samples if covered(n)})
    correct = code == 0 and not failed and all(c["ok"] for c in checks) and bool(kept)

    setup = r["boot_s"] + r["session_s"] + gen_s + r["state_s"] + r["warmup_s"]
    e2e = {"setup_s": setup, "latency_p50_s": None, "throughput_per_s": None}
    tail_s = tail_pct = None
    if kept:
        times = [s for _, s in kept]
        # the median leaves out tail-only samples (compaction batches)
        plain = [s for n, s in kept if n not in r["tail_only"]] or times
        e2e["latency_p50_s"] = statistics.median(plain)
        tail_s, tail_pct = tail(times)
        e2e["throughput_per_s"] = r["items"] / sum(times)

    names = REPORT_NAMES[args.workload]
    report = {names.get(k, k): {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    report[names["latency_tail_s"]] = {"value": tail_s, "unit": "s"}
    report["live_heap_peak_mb"] = {"value": r["live_heap_peak_mb"], "unit": "MB"}
    report["error_rate"] = {"value": len(failed) / max(1, r["attempted"]), "unit": "ratio"}
    report["tail_percentile"] = {"value": tail_pct, "unit": "%"}
    report["samples"] = {"value": len(kept), "unit": "count"}
    extra_units = {"m5_wrmsse": "ratio", "m5_wrmsse_naive": "ratio", "m5_wrmsse_zero": "ratio",
                   "neardup_recall": "ratio",
                   "false_drop_rate": "ratio", "store_bytes_per_input_byte": "ratio"}
    for k, unit in extra_units.items():
        if k in r["report"]:
            report[k] = {"value": r["report"][k], "unit": unit}
    if args.workload == "analytics_mix" and kept:
        report["queries_per_min"] = {"value": 60 * e2e["throughput_per_s"], "unit": "1/min"}
    detail.update({
        "setup_parts_s": {"jvm_boot": r["boot_s"], "session": r["session_s"],
                          "generate_mean_of_2": gen_s, "one_time_state": r["state_s"],
                          "warmup": r["warmup_s"]},
        "wall_s": {"generate_x2": t_jvm - t_start, "untimed_checks": r["checks_s"],
                   "jvm_teardown": teardown, "jvm": jvm_wall,
                   "total": time.perf_counter() - t_start},
        "tail_only": r["tail_only"],
        "failed_operations": failed,
        "failed_checks": [c for c in checks if not c["ok"]],
        "harness": r["report"]})

    if args.trace:
        names = layer_names(args.workload)
        layers = {k: r["layers"].get(k, 0.0) for k in names}
        layers["jvm.live_heap_peak_mb"] = r["live_heap_peak_mb"]
        layers["quality.m5_wrmsse"] = r["report"].get("m5_wrmsse", 0.0)
        layers["latency.tail_s"] = tail_s
        layers["latency.tail_pct"] = tail_pct
        layers["latency.samples"] = len(kept)
        layers["trace.latency_p50_s"] = e2e["latency_p50_s"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in names.items()}
        untraced = os.path.join(HERE, ".out", f"{args.workload}-s{args.seed}-t0", "summary.json")
        if os.path.exists(untraced) and kept:
            with open(untraced) as f:
                base = json.load(f)["metrics"]["latency_p50_s"]["value"]
            if base:
                report["tracing_overhead_s"] = {"value": e2e["latency_p50_s"] - base, "unit": "s"}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    line = {"correct": correct, "attempted": int(r["attempted"]), "failed": len(failed),
            "metrics": metrics}
    emit(line, report, detail, out)


if __name__ == "__main__":
    main()
