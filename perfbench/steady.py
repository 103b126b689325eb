#!/usr/bin/env python3
"""Steadiness check: run one workload K times, twice, and report each
metric's median, interquartile range (as a share of the median) and the
difference between the two sets' medians, against the bound in
BENCHMARK.json.

    python3 perfbench/steady.py --workload cold_build --runs 10
    python3 perfbench/steady.py --workload live_edits --runs 10 --traced 2

Run k of each set uses seed k (1..K), so the two sets see the same
inputs. With --traced N it also makes N traced runs and reports the
tracing overhead: the median traced round wall minus the median
untraced `wall_s`. Each run is its own process, as the benchmark
requires; runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETS = 2


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"run failed ({proc.returncode}): {' '.join(cmd)}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def spread(values: list[float]) -> tuple[float, float]:
    """(median, interquartile range as a share of the median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sets = []
    for s in range(SETS):
        results = []
        for seed in range(1, args.runs + 1):
            r = run_once(args.workload, seed, spec["run_seconds"], 0)
            print(f"set {s + 1} seed {seed}: {json.dumps(r)}", file=sys.stderr)
            results.append(r)
        sets.append(results)
    print(f"{args.workload}: {args.runs} runs x {SETS} sets")
    print(f"{'metric':<16}{'bound':>7}" + "".join(
        f"{f'median{i + 1}':>13}{f'iqr{i + 1}':>8}" for i in range(SETS)) + f"{'diff':>8}")
    summary = {}
    for m in spec["end_to_end"]:
        name = m["name"]
        stats = [spread([r["metrics"][name]["value"] for r in res]) for res in sets]
        diff = (stats[-1][0] - stats[0][0]) / stats[0][0] if stats[0][0] else float("nan")
        if m["better"] == "higher":
            diff = -diff
        summary[name] = {"bound": m["bound"], "sets": stats, "worse_by": diff}
        print(f"{name:<16}{m['bound']:>7.2f}" + "".join(
            f"{med:>13.4g}{iqr:>8.3f}" for med, iqr in stats) + f"{diff:>8.3f}")
    shares = {
        (sum(r["failed"] for r in res), sum(r["attempted"] for r in res)) for res in sets
    }
    print(f"failed/attempted per set: {sorted(shares)}")
    print(f"all correct: {all(r['correct'] for res in sets for r in res)}")
    if args.traced:
        traced = [run_once(args.workload, seed, spec["run_seconds"], 1)
                  for seed in range(1, args.traced + 1)]
        # against the last set: the untraced runs nearest in time
        t_wall = statistics.median(r["metrics"]["trace.round_wall_s"]["value"] for r in traced)
        u_wall = summary["wall_s"]["sets"][-1][0]
        print(f"tracing overhead: {t_wall - u_wall:+.3f} s "
              f"({(t_wall - u_wall) / u_wall:+.1%}) on wall_s {u_wall:.3f} s")
        print(f"traced runs correct: {all(r['correct'] for r in traced)}")
        print(f"traced runs failed/attempted: {sorted({(r['failed'], r['attempted']) for r in traced})}")
        print(f"  {'per-layer metric':<44}{'median':>14} {'min':>12} {'max':>12}")
        for name in sorted(traced[0]["metrics"]):
            vals = [r["metrics"][name]["value"] for r in traced]
            print(f"  {name:<44}{statistics.median(vals):>14.6g} {min(vals):>12.6g} "
                  f"{max(vals):>12.6g} {traced[0]['metrics'][name]['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
