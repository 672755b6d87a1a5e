"""Run the benchmark on several seeds and print each metric's spread.

    python3 perfbench/repeat.py --workload NAME --seeds 1 2 3 4 5 [--seconds S] [--trace 0|1]

For each metric: the median of the runs and the interquartile distance
as a share of that median (``statistics.quantiles(values, n=4)``), the
figure BENCHMARK.json's bounds are judged against.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[0] = ROOT

from perfbench.stats import median, spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log", help="append each run's last two lines here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
        ).stdout.strip().splitlines()
        result = json.loads(out[-1])
        if args.log:
            with open(args.log, "a") as f:
                f.write("\n".join(out[-2:]) + "\n")
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} wall={time.perf_counter() - t0:.1f}s", flush=True)
        for name, m in result["metrics"].items():
            if isinstance(m["value"], (int, float)):
                values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        med = median(vals)
        sp = spread(vals) if len(vals) >= 2 and med else float("nan")
        print(f"{name:40s} median={med:.6g} spread={sp:.4f} values={[round(v, 4) for v in vals]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
