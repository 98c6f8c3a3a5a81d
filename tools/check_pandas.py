"""Pandas-fetch replica of the driver's correctness gate.

The driver's r1/r2 hash FAILs came from a fetch-path difference invisible
to check_oracle.py's fetchall: DuckDB SUM(int) is HUGEINT, which a pandas
fetch renders as float64 ("150.0") while Spark renders int64 ("150").
This tool fetches BOTH sides via pandas (Spark df.toPandas(), DuckDB
con.execute(sql).fetchdf()), canonicalizes every cell through str() the
way a naive hasher would, and diffs order-insensitively.

Usage: python tools/check_pandas.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_oracle import duck_views  # noqa: E402  (sibling tool)
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402


def canon_cell(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if f != f:
            return "nan"
        if f == int(f) and abs(f) < 1e15:
            return str(int(f))
        return f"{f:.9g}"
    if isinstance(v, (np.bool_, bool)):
        return str(int(v))
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def frame_sig(df: pd.DataFrame):
    cols = sorted(df.columns)
    rows = []
    for _, r in df[cols].iterrows():
        rows.append("\x01".join(canon_cell(v) for v in r))
    return sorted(rows)


def raw_sig(df: pd.DataFrame):
    """The unforgiving variant: plain str() of every cell (what a lazy
    hasher does — '150.0' vs '150' mismatches survive here)."""
    cols = sorted(df.columns)
    rows = []
    for _, r in df[cols].iterrows():
        cells = []
        for v in r:
            if isinstance(v, (list, np.ndarray)):
                cells.append("[" + ",".join(str(x) for x in v) + "]")
            else:
                cells.append(str(v))
        rows.append("\x01".join(cells))
    return sorted(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = list(sys.argv[2:])

    from streaming_cdc_spark.queries import ORACLES, QUERIES
    from streaming_cdc_spark.session import get_spark

    spark = get_spark("check-pandas")

    con = duck_views(sf_dir)

    names = only or list(QUERIES)[:50]
    n_pass = n_fail = n_nosql = 0
    for name in names:
        if name not in ORACLES:
            n_nosql += 1
            continue
        t0 = time.time()
        try:
            spd = QUERIES[name](spark, sf_dir).toPandas()
            dpd = con.execute(ORACLES[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: error: {e}")
            n_fail += 1
            continue
        ok_canon = frame_sig(spd) == frame_sig(dpd)
        ok_raw = raw_sig(spd) == raw_sig(dpd)
        dt = time.time() - t0
        if ok_canon and ok_raw:
            print(f"PASS  {name}: rows={len(spd)} ({dt:.1f}s)")
            n_pass += 1
        else:
            tag = [] if ok_canon else ["canon"]
            if not ok_raw:
                tag.append("raw-str")
            print(f"FAIL  {name} [{'+'.join(tag)}]: spark={len(spd)} duck={len(dpd)}")
            s, d = (frame_sig(spd), frame_sig(dpd)) if not ok_canon else (
                raw_sig(spd), raw_sig(dpd))
            shown = 0
            for a, b in zip(s, d):
                if a != b and shown < 3:
                    print("  spark:", a.replace("\x01", " | ")[:200])
                    print("  duck :", b.replace("\x01", " | ")[:200])
                    shown += 1
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_nosql} no-oracle")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
