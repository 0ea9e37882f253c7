#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at tiny sizes, untraced
and traced, asserting that each run is correct and prints every metric
by name with its unit, and that BENCHMARK.json names the same metrics.

    python3 perfbench/smoke_test.py            # all workloads (~8 min)
    python3 perfbench/smoke_test.py m5_forecast
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def check_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END, f"BENCHMARK.json end_to_end {e2e} != run.py {run.END_TO_END}"
    assert layers == run.PER_LAYER, "BENCHMARK.json per_layer differs from run.py PER_LAYER"
    listed = [w["name"] for w in spec["workloads"]]
    assert set(listed) <= set(run.SIZES), f"unknown workloads in BENCHMARK.json: {listed}"
    return spec


def one_run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "11", "--seconds", "2", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    line, report = json.loads(lines[-1]), json.loads(lines[-2])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}, line.keys()
    assert line["correct"] is True, f"{workload} trace={trace}: {report['detail']}"
    assert line["attempted"] >= 1 and line["failed"] == 0
    want = run.PER_LAYER if trace else run.END_TO_END
    if trace and workload == "analytics_mix":
        want = {**want, **run.ANALYTICS_LAYERS}
    assert set(line["metrics"]) == set(want), set(line["metrics"]) ^ set(want)
    for name, unit in want.items():
        m = line["metrics"][name]
        assert m["unit"] == unit, (name, m)
        assert isinstance(m["value"], (int, float)), (name, m)
        if not trace:
            assert m["value"] > 0, (name, m)
    return line, report


def main(argv):
    check_benchmark_json()
    workloads = argv or sorted(run.SIZES)
    for w in workloads:
        for trace in (0, 1):
            line, report = one_run(w, trace)
            print(f"ok {w} trace={trace}: attempted={line['attempted']} "
                  f"report={sorted(report['report'])}", flush=True)
    print("smoke test passed")


if __name__ == "__main__":
    main(sys.argv[1:])
