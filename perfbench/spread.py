"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload stream --seeds 1-10 [--seconds 10] [--trace 0]

For every metric: the median over the runs and the distance between the
first and third quartile as a share of it (``stats.quartile_spread``),
next to the bound BENCHMARK.json fixes. Also prints each run's duration.
Run from the root of a checkout, like run.py.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

import stats


def seed_list(spec: str) -> list[int]:
    """``"1-5"`` or ``"1,4,9"`` → seeds."""
    if "-" in spec:
        lo, hi = map(int, spec.split("-"))
        return list(range(lo, hi + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in seed_list(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(args.trace),
        ]
        t = time.monotonic()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        took = time.monotonic() - t
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(lines[-1])
        shown = " ".join(
            f"{k}={m['value']:.4g}" for k, m in result["metrics"].items() if k in bounds
        )
        print(f"seed {seed}: {took:.1f} s, correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} {shown}", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    for name, vals in values.items():
        med = statistics.median(vals)
        spread = stats.quartile_spread(vals) if len(vals) > 1 and med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else f" bound={bound} {'OK' if spread < bound / 3 else 'WIDE'}"
        print(f"{name:40s} median={med:<12.6g} spread={spread:.4f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
