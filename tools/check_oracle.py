"""Local replica of the driver's correctness gate: run each registered
Spark query and its DuckDB oracle side-by-side on a scale dir and
compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_sig(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    return "\n".join(lines)


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per testdata table in
    ``sf_dir`` — the names every oracle SQL reads."""
    from streaming_cdc_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from streaming_cdc_spark.queries import ORACLES, QUERIES
    from streaming_cdc_spark.session import get_spark

    spark = get_spark("check-oracle")

    con = duck_views(sf_dir)

    n_pass = n_fail = n_nosql = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in ORACLES:
            print(f"NOSQL {name}: rows={len(srows)} ({time.time()-t0:.1f}s)")
            n_nosql += 1
            continue
        try:
            res = con.execute(ORACLES[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            ssig = table_sig([tuple(r) for r in srows], scols)
            dsig = table_sig(drows, dcols)
            if ssig != dsig:
                sl, dl = ssig.split("\n"), dsig.split("\n")
                diffs = [(a, b) for a, b in zip(sl, dl) if a != b][:3]
                problems.append(f"values differ, first diffs={diffs}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS  {name}: rows={len(srows)} ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_nosql} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
