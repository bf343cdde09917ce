#!/usr/bin/env python3
"""Steadiness mode: run one workload with several seeds and report, for each
end-to-end metric, the median, the quartiles and the spread (interquartile
range as a share of the median), plus the host loadavg around the runs.

    python3 perfbench/steady.py --workload doc_join --runs 10 --first-seed 1

The bounds in BENCHMARK.json are set from this output: a metric's spread
should stay below a third of its bound. Quartiles are those of Python's
statistics.quantiles(values, n=4).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: run failed (exit {proc.returncode})")
    result = json.loads(lines[-1])
    with open(os.path.join(ROOT, ".bench_build", "results",
                           f"{workload}-bench-seed{seed}-trace0.json")) as f:
        record = json.load(f)
    return result, record


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    args = ap.parse_args()

    values = {m["name"]: [] for m in spec["end_to_end"]}
    loads = []
    for i in range(args.runs):
        seed = args.first_seed + i
        result, record = one_run(args.workload, seed, args.seconds)
        if not result["correct"]:
            raise SystemExit(f"seed {seed}: output check failed")
        for name, m in result["metrics"].items():
            values[name].append(m["value"])
        loads.append((record["loadavg_start"], record["loadavg_end"]))
        print(f"seed {seed}: " + " ".join(f"{n}={v[-1]:.4g}" for n, v in values.items())
              + f" load={loads[-1][0]:.1f}->{loads[-1][1]:.1f}", file=sys.stderr, flush=True)

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary = {}
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                         "bound": bounds[name], "ok": spread < bounds[name] / 3}
        print(f"{name:14s} median={med:10.4g} q1={q1:10.4g} q3={q3:10.4g} "
              f"spread={spread:6.3f} bound/3={bounds[name] / 3:6.3f}"
              f"{'' if spread < bounds[name] / 3 else '  WIDE'}")
    summary["loadavg"] = {"start_median": statistics.median(l[0] for l in loads),
                          "end_median": statistics.median(l[1] for l in loads),
                          "max": max(max(l) for l in loads)}
    print(json.dumps({"workload": args.workload, "runs": args.runs, "summary": summary}))


if __name__ == "__main__":
    main()
