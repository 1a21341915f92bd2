"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload job_bucketed --seeds 0-9 [--seconds 10] [--trace 0]

Per metric: median, quartiles (statistics.quantiles(n=4)) and the
interquartile distance as a share of the median -- the figure the
BENCHMARK.json bounds are judged against.  Raw results go to --out
(JSON lines) when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="0-9")
    p.add_argument("--seconds", default="10")
    p.add_argument("--trace", default="0")
    p.add_argument("--out")
    args = p.parse_args(argv)

    runs = []
    for seed in seeds_of(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
        res["seed"] = seed
        facts = [ln for ln in lines if ln.startswith("perfbench {")]
        if facts:
            res["facts"] = json.loads(facts[0][len("perfbench "):])
        runs.append(res)
        print(f"seed {seed}: exit {proc.returncode} correct={res.get('correct')}", flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(res) + "\n")
    ok = [r for r in runs if "metrics" in r]
    if len(ok) < 2:
        print("not enough successful runs")
        return 1
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s}")
    for name in ok[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in ok]
        med, q1, q3, rel = spread(vals)
        print(f"{name:40s} {med:12.5g} {q1:12.5g} {q3:12.5g} {rel:8.3f}")
    return 0 if len(ok) == len(runs) and all(r["correct"] for r in ok) else 1


if __name__ == "__main__":
    raise SystemExit(main())
