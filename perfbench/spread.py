"""Run-to-run spread of the benchmark's end-to-end metrics over seeds.

    python3 perfbench/spread.py --workload olap_star --seeds 1 2 3 4 5

Runs perfbench/run.py once per seed, one after another, for
BENCHMARK.json's ``run_seconds``, and prints for each metric its median
and the distance between its first and third quartile as a share of
the median (the figure the benchmark's bounds are compared against).
Raw results go to standard error as they come.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
            capture_output=True, text=True, check=True)
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(seed, json.dumps(result), file=sys.stderr, flush=True)
        if not result["correct"]:
            print(f"seed {seed}: incorrect result", file=sys.stderr)
            print(proc.stdout, proc.stderr[-5000:], file=sys.stderr)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:32s} median {med:12.6g}  iqr/median {spread:.4f}  n={len(vals)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
