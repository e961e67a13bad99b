#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at a tiny size.

    python3 perfbench/smoke.py

Run from the repository root. For every workload run.py knows (those in
BENCHMARK.json and curate_batch, which BENCHMARK.json leaves out) it runs
run.py with --size tiny, untraced and traced, and asserts that
  * every end-to-end (untraced) or per-layer (traced) metric is printed
    with the unit BENCHMARK.json gives it, and only those;
  * the output checks pass: correct is true and no operation failed;
  * the sidecar JSON parses, and the traced one holds spans whose parents
    exist and whose self time per layer is reported.
It also checks that run.py fails, without printing a result, in a directory
holding only BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def check(workload, trace, bench):
    r = run(workload, trace)
    assert r.returncode == 0, f"{workload} trace={trace} exit {r.returncode}:\n{r.stderr[-3000:]}"
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert result["attempted"] >= 1, result
    wanted = bench["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}, \
        set(result["metrics"]) ^ {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)), (m, got)
        if not trace:
            assert got["value"] > 0, (m, got)
    side = os.path.join(ROOT, ".bench_build", "perfbench", "trace",
                        f"{workload}-seed1-trace{trace}-tiny.json")
    with open(side) as fh:
        sidecar = json.load(fh)
    assert sidecar["workload"] == workload and not sidecar["failures"], sidecar["failures"]
    if trace:
        spans = sidecar["spans"]
        assert spans, "traced run recorded no spans"
        ids = {s["id"] for s in spans}
        assert all(s["parent"] == -1 or s["parent"] in ids for s in spans)
        assert all(s["end_ns"] >= s["start_ns"] for s in spans)
        assert "op" in sidecar["self_time_ms"], sidecar["self_time_ms"]
        assert sidecar["traced_ops"], "no traced operations"
    print(f"ok  {workload} trace={trace} attempted={result['attempted']}")


def check_bare_dir():
    """Only BENCHMARK.json and perfbench/: the build must fail loudly."""
    bare = os.path.join(ROOT, ".bench_build", "perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        r = run("aqp_interactive", 0, cwd=bare)
        assert r.returncode != 0, "run.py succeeded without the library sources"
        assert not r.stdout.strip(), f"printed a result: {r.stdout!r}"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  bare directory fails without a result")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    check_bare_dir()
    sys.path.insert(0, HERE)
    import run as runner
    for w in runner.WORKLOADS:
        for trace in (0, 1):
            check(w, trace, bench)
    print("smoke: all checks passed")


if __name__ == "__main__":
    main()
