#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at its smallest size, untraced
and traced. Asserts that the last output line has exactly the result keys,
that every metric BENCHMARK.json names is printed with its unit, that each
workload's own figures are in its record, that layer_map.json maps every
per-layer metric and figure, and that nothing failed.

    python3 perfbench/smoke.py            # all workloads, a few minutes
    python3 perfbench/smoke.py catalog    # one workload
"""
import json
import numbers
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(cond, msg):
    if not cond:
        raise SystemExit(f"SMOKE FAILED: {msg}")


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    check(proc.returncode == 0, f"{workload} trace={trace} exited {proc.returncode}")
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    check(set(last) == {"correct", "attempted", "failed", "metrics"}, f"result keys {sorted(last)}")
    check(last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1,
          f"{workload} trace={trace}: {last['attempted']} attempted, {last['failed']} failed")
    path = os.path.join(ROOT, ".bench_build", "results", f"{workload}-smoke-seed7-trace{trace}.json")
    with open(path) as f:
        return last["metrics"], json.load(f)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "layer_map.json")) as f:
        layer_map = json.load(f)
    per_layer = {m["name"] for m in spec["per_layer"]}
    check(set(layer_map["per_layer"]) == per_layer,
          f"layer_map.json per_layer differs from BENCHMARK.json: "
          f"{sorted(set(layer_map['per_layer']) ^ per_layer)}")
    e2e = {m["name"] for m in spec["end_to_end"]}
    for name, fig in layer_map["figures"].items():
        check(set(fig["gated_by"]) <= e2e, f"{name} is gated by unknown metrics {fig['gated_by']}")
    for name, m in layer_map["per_layer"].items():
        check(set(m["moves"]) <= set(layer_map["figures"]) | e2e, f"{name} moves unknown {m['moves']}")
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            metrics, record = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[section]}
            check(set(metrics) == set(want), f"{w} trace={trace}: metric names differ: "
                  f"missing {sorted(set(want) - set(metrics))}, extra {sorted(set(metrics) - set(want))}")
            for name, unit in want.items():
                m = metrics[name]
                check(m["unit"] == unit, f"{w}: {name} in {m['unit']}, expected {unit}")
                check(isinstance(m["value"], numbers.Number), f"{w}: {name} is not a number")
            figures = record["figures"]
            check(figures["failed_frac"]["value"] == 0, f"{w}: failed_frac is not 0")
            for name, fig in layer_map["figures"].items():
                if fig["workload"] in (w, "all"):
                    check(figures.get(name, {}).get("unit") == fig["unit"], f"{w}: figure {name} missing")
            print(f"ok {w} trace={trace}: {len(metrics)} metrics", flush=True)
    print("smoke: all workloads ok")


if __name__ == "__main__":
    main()
