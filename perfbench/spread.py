#!/usr/bin/env python3
"""Run the benchmark several times on one workload, each time with
another seed, and report each end-to-end metric's median and its spread:
the distance between the first and third quartile as a share of the
median (``statistics.quantiles(values, n=4)``), next to the metric's
bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload analytics --runs 10 --first-seed 100

Runs are sequential; each run's result line is appended to ``--out``
(JSON lines) so a long series can be inspected or resumed by hand.
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


def spreads(results: list[dict]) -> dict[str, tuple[float, float, int]]:
    """metric → (median, (q3 - q1) / median, n) over result lines."""
    out = {}
    names = sorted({k for r in results for k in r["metrics"]})
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = med
        out[name] = (med, (q3 - q1) / med if med else float("inf"), len(vals))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_work", "spread.jsonl"))
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    results = []
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.PIPE, text=True)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        res.update(workload=args.workload, seed=seed, wall_s=wall)
        results.append(res)
        with open(args.out, "a") as fh:
            fh.write(json.dumps(res) + "\n")
        print(f"seed {seed}: {wall:.1f} s, correct={res['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              file=sys.stderr)
    for name, (med, spread, n) in spreads(results).items():
        bound = bounds.get(name)
        print(f"{args.workload:12s} {name:18s} median {med:12.4f}  spread {spread:6.3f}"
              f"  bound {bound}  n={n}")
    return 0 if results and all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
