"""Reproduce the driver's environment for the 3 persistent hash FAILs:
run queries under a VANILLA SparkSession (no engine config — default
200 shuffle partitions, ANSI on, default TZ) and diff against DuckDB.

Usage: python tools/repro_driver_env.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_oracle import duck_views, table_sig  # noqa: E402  (sibling tool)
from pyspark.sql import SparkSession  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or {"max_active_sweep", "cluster_summary", "conflation_errors"}

    # vanilla: exactly what an external driver would build
    spark = (
        SparkSession.builder.appName("repro-driver")
        .master("local[32]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    print("shuffle.partitions =", spark.conf.get("spark.sql.shuffle.partitions"))
    print("ansi =", spark.conf.get("spark.sql.ansi.enabled", "true"))

    from streaming_cdc_spark.queries import ORACLES, QUERIES

    con = duck_views(sf_dir)

    rc = 0
    for name in only:
        fn = QUERIES[name]
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        res = con.execute(ORACLES[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        ssig = table_sig(srows, scols).split("\n")
        dsig = table_sig(drows, dcols).split("\n")
        if ssig == dsig:
            print(f"PASS {name} rows={len(srows)}")
        else:
            rc = 1
            diffs = [(a, b) for a, b in zip(ssig, dsig) if a != b][:5]
            print(f"FAIL {name}: rows spark={len(srows)} duck={len(drows)} first-diffs:")
            for a, b in diffs:
                print("  spark:", a.replace("\x01", " | "))
                print("  duck :", b.replace("\x01", " | "))
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
