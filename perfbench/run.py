"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 40 --trace 0

Run from the repository root. Generates the input tables, starts a
local Spark session on every available core, runs the workload's
passes (the first pass, in the fresh JVM, is the cold pass; a fixed
number of warm passes follows), checks every operation's output, and
prints a human-readable report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.

The number of passes does not depend on how fast they run, so every
commit is measured on the same sample and the same store states;
``--seconds`` is the timed wall the passes are sized for and is only
echoed in the report.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables the
Spark event log and span tracing and reports the per-layer metrics
instead (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import Bench, process_start  # noqa: E402
import report  # noqa: E402
import sampler  # noqa: E402

WORKLOADS = ("batch", "hybrid_serve")
#: Warm passes after the cold pass; ``warm_pass_s`` is their median.
WARM_PASSES = 2
#: Tables are generated from this fixed seed at this size, so the batch
#: queries' oracle digests can be stored; ``--seed`` drives the schedule.
DATA_SEED, DATA_SCALE = 42, 0.1


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def make_workload(name: str, bench):
    if name == "batch":
        from batch import BatchWorkload

        return BatchWorkload(bench)
    from serve import ServeWorkload

    return ServeWorkload(bench)


def run_passes(workload, warm_passes: int) -> None:
    """The cold pass, then ``warm_passes`` warm passes."""
    for pass_no in range(1 + warm_passes):
        workload.run_pass(pass_no)


def main(argv=None) -> int:
    started = process_start()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ons_utils_spark")):
        print(f"no ons_utils_spark package under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    rss = sampler.RssSampler().start()
    bench = Bench(ROOT, args.seed, bool(args.trace), started)
    try:
        import datagen

        datagen.generate(bench.data, DATA_SEED, DATA_SCALE)
        bench.start_session()
        workload = make_workload(args.workload, bench)
        bench.tracer.enabled = bench.trace
        with bench.span("setup.workload"):
            workload.setup()
        run_passes(workload, WARM_PASSES)
        bench.tracer.enabled = False
        extra = workload.finish()
        bench.stop_session()
        peak = rss.stop()
        result = report.build(bench, args.workload, extra, peak, args.seconds)
    finally:
        bench.stop_session()
        rss.stop()
        shutil.rmtree(bench.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bench.work))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
