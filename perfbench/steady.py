"""Repeat one workload and report how steady each metric is.

    python3 perfbench/steady.py --workload sql_frontdoor --runs 10 \
        [--first-seed 1] [--trace 0]

Runs perfbench/run.py once per seed (first-seed, first-seed+1, ...),
then prints per metric the median, the first and third quartiles (as
statistics.quantiles(values, n=4) gives them), the spread
(q3 - q1) / median and, for end-to-end metrics, the bound from
BENCHMARK.json next to it. A spread above a third of its bound is
flagged. Exits non-zero if a run fails or reports a wrong result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) of at least two values."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    bad = 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [*bench["command"], "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=900)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            bad += 1
            continue
        result = json.loads(lines[-1])
        if not result["correct"]:
            bad += 1
        summary = {k: round(v["value"], 4)
                   for k, v in result["metrics"].items() if k in bounds}
        print(f"seed {seed}: failed {result['failed']}/{result['attempted']} "
              f"{summary}", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]

    print(f"\n{args.workload}: {args.runs} runs")
    print(f"{'metric':44} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8} {'bound':>6}")
    for name, vals in values.items():
        if len(vals) < 2:
            continue
        med, q1, q3, sp = spread(vals)
        bound = bounds.get(name)
        flag = ""
        if bound is not None and name != "setup_s" and sp > bound / 3:
            flag = "  UNSTEADY"
        print(f"{name:44} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.4f} "
              f"{'' if bound is None else bound:>6}{flag}  {units[name]}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
