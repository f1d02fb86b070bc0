"""Run one workload under several seeds and report each metric's median
and quartile spread ((Q3 - Q1) / median), the steadiness figure the
bounds in BENCHMARK.json are read against.

    python3 perfbench/spread.py --workload <name> --seeds 1 2 3 ... \\
        [--seconds 5] [--trace 0]

Runs are sequential; each is a separate ``perfbench/run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import quartile_spread  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    values: dict[str, list[float]] = {}
    bad = 0
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            bad += 1
            continue
        result = json.loads(lines[-1])
        if not result["correct"]:
            bad += 1
        print(f"seed {seed}: correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']}")
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{k:32s} median {statistics.median(vs):14.6g}  "
              f"spread {spread:7.4f}  n {len(vs)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
