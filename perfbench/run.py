#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload aqp_interactive --seed 1 \
        --seconds 12 --trace 0 [--size tiny]

Run it from the repository root. It compiles the library sources
(src/main/scala) together with the benchmark's own sources
(perfbench/src) into .bench_build/perfbench (see build.py), then runs the
workload in one JVM. --trace 0 prints the end-to-end metrics, --trace 1
the per-layer ones; either way a sidecar JSON with spans, per-operation
counters and failures is written under .bench_build/perfbench/trace/.
The exit code is non-zero, and no result is printed, when the build or
the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("aqp_interactive", "curate_batch", "curate_stream")
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    try:
        classes, jars, resources = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    out_root = os.path.join(build.ROOT, ".bench_build", "perfbench")
    work = os.path.join(out_root, f"work-{os.getpid()}")
    trace_dir = os.path.join(out_root, "trace")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(trace_dir, exist_ok=True)
    sidecar = os.path.join(
        trace_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}"
        f"{'-tiny' if args.size == 'tiny' else ''}.json")
    # Two Spark task threads whatever the core count: the queries and
    # micro-batches are driver-bound, and leaving cores free for the driver,
    # JIT and GC threads keeps the scheduler out of the latencies. A fixed
    # count also keeps partitioning, and so sampled answers, the same on
    # every machine.
    threads = min(2, len(os.sched_getaffinity(0)))
    heap = "1g" if args.size == "tiny" else "3g"
    cmd = ["java", f"-Xmx{heap}", "-XX:ParallelGCThreads=2",
           "-XX:ConcGCThreads=1", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"] + build.JAVA_OPENS + [
        "-cp", os.pathsep.join([classes, resources, os.path.join(jars, "*")]),
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--size", args.size, "--threads", str(threads),
        "--work", work, "--sidecar", sidecar]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return 4
    try:
        result = json.loads(lines[-1])
    except ValueError:
        print("perfbench: last output line is not a result", file=sys.stderr)
        return 4
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
