#!/usr/bin/env python3
"""Steadiness check: run every workload on several seeds and report, per
end-to-end metric, the median and the quartile spread as a share of the
median, against the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py [--seeds 1-10] [--workloads a,b] [--out f.json]

Run from the repository root, with nothing else loading the machine. A
spread at or above the bound fails (exit 1); setup_s is reported but not
judged, its bound applies only between two sets of runs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out")
    args = ap.parse_args()

    results = {}
    for w in args.workloads.split(","):
        for s in seeds(args.seeds):
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if r.returncode == 0 and lines else None
            results.setdefault(w, []).append({"seed": s, "result": res})
            print(w, s, "exit", r.returncode,
                  res and {k: round(v["value"], 4) for k, v in res["metrics"].items()},
                  flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(results, fh, indent=1)

    ok = True
    for w, runs in results.items():
        good = [r["result"] for r in runs if r["result"]]
        bad = len(runs) - len(good) + sum(1 for g in good if not g["correct"] or g["failed"])
        print(f"{w}: {len(runs)} runs, {bad} failed or incorrect")
        ok &= bad == 0 and len(good) >= 2
        for m in bench["end_to_end"]:
            vals = [g["metrics"][m["name"]]["value"] for g in good]
            if len(vals) < 2:
                continue
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med if med else float("inf")
            judged = m["name"] != "setup_s"
            verdict = "" if not judged else ("ok" if spread <= m["bound"] else "TOO WIDE")
            ok &= not judged or spread <= m["bound"]
            print(f"  {m['name']:18s} median {med:12.4f} {m['unit']:8s} "
                  f"spread {spread:6.3f} bound {m['bound']:.2f} {verdict}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
