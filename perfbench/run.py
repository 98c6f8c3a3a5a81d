#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_resolve --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one JSON object as the last line of
standard output: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``). A fuller record of the run (host,
versions, loadavg, samples) goes to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402  (needs ROOT on the path)


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: the smoke test's input size")
    p.add_argument("--mutate", action="store_true",
                   help="corrupt one output row before checking (self-test)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "streaming_cdc_spark")):
        print("perfbench: engine package streaming_cdc_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    from perfbench import harness

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, side = harness.run(args.workload, args.seed, args.seconds, bool(args.trace),
                                   size=args.size, mutate=args.mutate, work=work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    side["result"] = result
    side["process_s"] = time.perf_counter() - t_main
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w",
              encoding="utf-8") as fh:
        json.dump(side, fh, indent=1, default=str)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
