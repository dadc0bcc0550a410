#!/usr/bin/env python3
"""A/A mode: run one workload several times on the same code, each in a
fresh process with its own seed, and print every metric's median and
its spread (interquartile range ÷ median) beside the bound
BENCHMARK.json gives it. The bounds are set from these spreads.

    python3 perfbench/aa.py --workload serve_refine --runs 10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    """Interquartile range ÷ median, as ``statistics.quantiles(n=4)``
    gives the quartiles."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("nan")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seconds", type=int, default=None, help="default: run_seconds of BENCHMARK.json")
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    if args.runs < 2:
        p.error("--runs must be at least 2")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]

    results = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        results.append(json.loads(last))
        print(f"seed {seed}: done", file=sys.stderr, flush=True)

    print(f"{args.workload}: {len(results)} runs of {seconds}s")
    for name, first in results[0]["metrics"].items():
        values = [r["metrics"][name]["value"] for r in results]
        bound = bounds[name]
        s = spread(values)
        if s <= bound / 3:
            flag = "ok"
        else:
            flag = "within bound" if s <= bound else "TOO WIDE"
        print(f"  {name:40s} {statistics.median(values):14.6g} {first['unit']:10s} "
              f"spread {s:7.4f}  bound {bound:5}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
