#!/usr/bin/env python3
"""Steadiness check: run the benchmark several times per workload, each
run with its own seed, and report every end-to-end metric's median,
quartiles and spread (interquartile distance as a share of the median).

    python3 perfbench/steady.py --runs 10 [--workloads a,b] [--first-seed 1]

Run from the repository root.  Workloads, run length and bounds come
from BENCHMARK.json; a metric is steady when its spread is below a
third of its bound (``setup_s`` is reported but not held to that).  The
summary is printed and written to ``.bench_work/steady-<first-seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    args = cmd + ["--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    p = subprocess.run(args, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} exited {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    return {"wall_s": wall, **{k: v["value"] for k, v in out["metrics"].items()}}


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else float("inf")}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    summary, steady = {}, True
    for w in names:
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + i
            runs.append(run_once(bench["command"], w, seed, bench["run_seconds"]))
            print(f"# {w} seed {seed}: " + ", ".join(
                f"{k}={v:.4g}" for k, v in runs[-1].items()), file=sys.stderr, flush=True)
        summary[w] = {}
        for k in runs[0]:
            s = spread([r[k] for r in runs])
            s["ok"] = k not in bounds or k == "setup_s" or s["spread"] < bounds[k] / 3
            steady &= s["ok"]
            summary[w][k] = s
            print(f"{w:16s} {k:12s} median {s['median']:12.5g}  q1 {s['q1']:12.5g}  "
                  f"q3 {s['q3']:12.5g}  spread {s['spread']:.4f}"
                  + ("" if k not in bounds else f"  bound {bounds[k]}"
                     + ("" if s["ok"] else "  UNSTEADY")))
    path = os.path.join(ROOT, ".bench_work", f"steady-{args.first_seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(f"{'steady' if steady else 'NOT steady'}; summary in {os.path.relpath(path, ROOT)}")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
