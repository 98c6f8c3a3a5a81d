"""Audit cross-engine result-type kinds for every oracle query.

DuckDB SUM(INTEGER) yields HUGEINT and SUM over DECIMAL yields DECIMAL;
a driver that fetches via pandas renders those as float64 while the
Spark side returns int64 — the values hash differently even when equal.
This tool runs every oracle on a small sf dir and compares each output
column's type KIND (int / float / str / other) against the Spark
schema, flagging any disagreement plus any DuckDB HUGEINT/DECIMAL
output column.

Usage: python tools/audit_types.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_oracle import duck_views  # noqa: E402  (sibling tool)


SPARK_INT = {"tinyint", "smallint", "int", "bigint"}
SPARK_FLOAT = {"float", "double"}


def duck_kind(dtype) -> str:
    """Kind of a pandas dtype produced by duckdb fetchdf — the render
    the driver sees. HUGEINT (integer SUMs) arrives as float64."""
    k = dtype.kind  # numpy kind char
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k in "OSU":
        return "str"
    if k == "M":
        return "ts"
    if k == "b":
        return "bool"
    return str(dtype)


def spark_kind(tname: str) -> str:
    t = tname.lower()
    if t in SPARK_INT:
        return "int"
    if t in SPARK_FLOAT:
        return "float"
    if t == "string":
        return "str"
    if t.startswith("timestamp") or t == "date":
        return "ts"
    if t == "boolean":
        return "bool"
    return t


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from streaming_cdc_spark.queries import ORACLES, QUERIES
    from streaming_cdc_spark.session import get_spark

    spark = get_spark("audit-types")
    con = duck_views(sf_dir)

    n_bad = 0
    for name, sql in ORACLES.items():
        try:
            ddf = con.execute(sql).fetchdf()
            dtypes = dict(ddf.dtypes)
        except Exception as e:  # noqa: BLE001
            print(f"ERR   {name}: duckdb: {e}")
            n_bad += 1
            continue
        try:
            sdf = QUERIES[name](spark, sf_dir)
            stypes = dict(sdf.dtypes)
        except Exception as e:  # noqa: BLE001
            print(f"ERR   {name}: spark: {e}")
            n_bad += 1
            continue
        problems = []
        for col, dt in dtypes.items():
            dk = duck_kind(dt)
            sk = spark_kind(stypes.get(col, "?"))
            # empty results make fetchdf guess object dtype; only flag
            # kind mismatches on non-empty frames
            if len(ddf) and dk != sk:
                problems.append(f"{col}: duckdb {dk} ({dt}) vs spark {sk} ({stypes.get(col)})")
        if problems:
            n_bad += 1
            print(f"FLAG  {name}: {'; '.join(problems)}")
    print(f"\n{n_bad} flagged of {len(ORACLES)}")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
