"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload batch --seeds 1-10 [--trace 0]

For every metric of the result lines: the median over the seeds and the
interquartile range as a share of the median (``statistics.quantiles``
with ``n=4``), next to the metric's bound from ``BENCHMARK.json``: "ok"
below a third of the bound, "within bound" up to the bound, "OVER"
above it. Also prints each run's wall time, since every run must fit
the budget.
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]),
                                 "--trace", args.trace]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        shown = " ".join(f"{k}={m['value']:.3f}" for k, m in result["metrics"].items()
                         if k in bounds)
        print(f"seed {seed}: {wall:6.1f} s wall, correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} {shown}", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else f"bound {bound} " + (
            "ok" if spread < bound / 3 else "within bound" if spread <= bound else "OVER")
        print(f"{name:<44} median {med:14.4f} spread {spread:7.4f} {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
