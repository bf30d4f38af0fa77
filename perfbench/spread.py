#!/usr/bin/env python3
"""Run the benchmark once per seed and workload and report each
end-to-end metric's median and spread, (q3 - q1) / median, next to its
bound in BENCHMARK.json.

    python3 perfbench/spread.py --seeds 801-810 --label A \\
        --out perfbench/results/runs.json

Run from the repository root.  Runs are sequential, one process at a
time, with BENCHMARK.json's command and run_seconds.  With --out, the
set is added under its label to that JSON file (other labels are kept).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    elapsed = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        sys.exit(f"{workload} seed {seed} exited {proc.returncode}:\n"
                 f"{proc.stderr[-3000:]}")
    return {"elapsed_s": elapsed, **json.loads(lines[-1])}


def spread(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_over_median": (q3 - q1) / med if med else 0.0}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", required=True, help="e.g. 801-810")
    ap.add_argument("--workloads", nargs="*", default=None)
    ap.add_argument("--label", default="A")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    result = {}
    for wl in names:
        runs = []
        for seed in seeds(args.seeds):
            runs.append(run_once(bench, wl, seed))
            r = runs[-1]
            print(wl, seed, f"{r['elapsed_s']:.1f}s", r["correct"],
                  {k: round(v["value"], 3) for k, v in r["metrics"].items()},
                  flush=True)
        values = {k: [r["metrics"][k]["value"] for r in runs]
                  for k in bounds}
        result[wl] = {
            "seeds": seeds(args.seeds),
            "correct": [r["correct"] for r in runs],
            "elapsed_s": [r["elapsed_s"] for r in runs],
            "values": values,
            "spread": {k: {**spread(v), "bound": bounds[k]}
                       for k, v in values.items()}}
        for k, s in result[wl]["spread"].items():
            print(f"  {wl} {k}: median {s['median']:.4g} spread "
                  f"{s['iqr_over_median']:.3f} (bound {s['bound']})",
                  flush=True)
    if args.out:
        data = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                data = json.load(f)
        data.setdefault("sets", {})[args.label] = result
        with open(args.out, "w") as f:
            json.dump(data, f, indent=1)


if __name__ == "__main__":
    main()
