#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload doc_join --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
harness from source with sbt (offline) and caches the classpath under
.bench_build/; later runs reuse it while the sources are unchanged.

--trace 0 runs the workload untraced and reports the end-to-end metrics listed
in BENCHMARK.json. --trace 1 runs it traced and reports the per-layer metrics
plus trace.overhead_s: its run_s minus the median run_s of the untraced runs
of the same workload and build recorded in .bench_build/results/ (one
untraced run is made first if there is none). Every run writes its full
record (figures, per-call Spark counters, spans, loadavg) there. The exit
code is 0 only if every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("doc_join", "raster_store", "catalog")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build compiles, to decide whether to rebuild."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run a command in its own process group; on timeout kill the group and
    wait for it, so nothing outlives the benchmark."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise BenchError(f"{cmd[0]} exceeded {timeout}s and was stopped")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """Compile the library and the harness; return the runtime classpath and
    the digest of the sources it was built from."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"library source {need} not found next to perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            stamp, cp = f.read().strip(), g.read().strip()
        if stamp == digest and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, digest
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    build_log = os.path.join(BUILD, "build.log")
    log(f"building library and harness (log: {os.path.relpath(build_log, ROOT)})")
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"), "writeClasspath"]
    with open(build_log, "w") as out:
        rc = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if rc != 0:
            raise BenchError(f"build failed (exit {rc}); see {build_log}")
    with open(os.path.join(HERE, "target", "runtime-classpath.txt")) as f:
        cp = f.read().strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f}s")
    return cp, digest


def result_path(args, trace, seed=None):
    seed = args.seed if seed is None else seed
    return os.path.join(BUILD, "results", f"{args.workload}-{args.size}-seed{seed}-trace{trace}.json")


def java_cmd(cp, work):
    """The harness JVM command line; JVM log lines go to stderr."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed heap size: the harness forces a full collection after every
    # call, and G1 would otherwise shrink the heap after each one
    return [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Xlog:disable", "-Xlog:all=warning:stderr",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), *ADD_OPENS, "-cp", cp, "perfbench.Main"]


def run_harness(cp, digest, args, trace, timeout):
    """One harness JVM; returns its result record, also kept on disk."""
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = result_path(args, trace)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    cmd = java_cmd(cp, work) + [
           "run", "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace), "--size", args.size,
           "--work", work, "--goldens", os.path.join(HERE, "goldens"),
           "--data", os.path.join(HERE, "data", "sf0.01"), "--spec", os.path.join(ROOT, "BENCHMARK.json"),
           "--out", out]
    try:
        rc = run_bounded(cmd, timeout, cwd=ROOT, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        raise BenchError(f"harness exited with {rc} and no result")
    with open(out) as f:
        rec = json.load(f)
    rec["build"] = digest
    with open(out, "w") as f:
        json.dump(rec, f)
    return rec


def untraced_run_s(digest, args):
    """run_s of every untraced run of this workload, size and build."""
    found = []
    results = os.path.join(BUILD, "results")
    prefix = f"{args.workload}-{args.size}-seed"
    for name in sorted(os.listdir(results)) if os.path.isdir(results) else []:
        if name.startswith(prefix) and name.endswith("-trace0.json"):
            with open(os.path.join(results, name)) as f:
                rec = json.load(f)
            if rec.get("build") == digest and rec["correct"]:
                found.append(rec["figures"]["run_s"]["value"])
    return found


def metric(record, section, name, unit):
    got = record[section].get(name)
    if got is None:
        raise BenchError(f"{record['workload']} run did not report {name}")
    if got["unit"] != unit:
        raise BenchError(f"{name} reported in {got['unit']}, BENCHMARK.json says {unit}")
    return {"value": got["value"], "unit": unit}


def stop_on_sigterm(signum, frame):
    """Turn SIGTERM into an exception, so run_bounded stops its child."""
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, stop_on_sigterm)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench")
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be non-negative")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        cp, digest = build()
        started = time.time()
        if args.trace == 0:
            rec = run_harness(cp, digest, args, 0, RUN_TIMEOUT_S)
            runs = [rec]
            metrics = {m["name"]: metric(rec, "figures", m["name"], m["unit"])
                       for m in spec["end_to_end"]}
        else:
            runs = []
            untraced = untraced_run_s(digest, args)
            if not untraced:
                runs.append(run_harness(cp, digest, args, 0, RUN_TIMEOUT_S // 2))
                untraced = [runs[0]["figures"]["run_s"]["value"]]
            rec = run_harness(cp, digest, args, 1, RUN_TIMEOUT_S - int(time.time() - started))
            runs.append(rec)
            overhead = rec["figures"]["run_s"]["value"] - statistics.median(untraced)
            rec["per_layer"]["trace.overhead_s"] = {"value": overhead, "unit": "s"}
            metrics = {m["name"]: metric(rec, "per_layer", m["name"], m["unit"])
                       for m in spec["per_layer"]}
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
    for r in runs:
        for msg in r["failures"]:
            log(f"check failed: {msg}")
    correct = all(r["correct"] for r in runs)
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": metrics,
    }), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
