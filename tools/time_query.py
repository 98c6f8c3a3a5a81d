"""Time one or more registered queries in isolation with the bench's
exact methodology (same session factory, same warmups, noop sink,
warmup pass + best-of-N measured passes), optionally dumping each
query's ``explain("formatted")`` to a file.

Usage:
    python tools/time_query.py q1 [q2 ...] [--sf-dir DIR] [--passes N]
        [--plans-dir plans/r09] [--plan-suffix before]

Prints one line per query: ``name  best  [p1 p2 ...]`` plus loadavg
(measurement discipline: numbers from a loaded window are garbage).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (the repo-root bench script: shared warmup)
from streaming_cdc_spark.queries import QUERIES  # noqa: E402
from streaming_cdc_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--plan-suffix", default="before")
    args = ap.parse_args()

    print("loadavg", os.getloadavg())
    spark = get_spark("time_query")
    bench.warm(spark, args.sf_dir)

    for name in args.names:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"{name}  MISSING")
            continue
        spark.sparkContext.setJobDescription(name)
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            df = fn(spark, args.sf_dir)
            plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.plan_suffix}.txt"), "w"
            ) as f:
                f.write(plan)
        times = []
        # warmup pass (codegen/JIT) + N measured passes, clearCache between
        for i in range(args.passes + 1):
            spark.catalog.clearCache()
            t0 = time.time()
            try:
                df = fn(spark, args.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                times.append(round(time.time() - t0, 3))
            except Exception as e:  # noqa: BLE001
                times.append(-1.0)
                print(f"error {name}: {e}", file=sys.stderr)
        measured = [t for t in times[1:] if t >= 0]
        best = min(measured) if measured else -1.0
        print(f"{name}  best={best}  warm={times[0]}  passes={times[1:]}")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
