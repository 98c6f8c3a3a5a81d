"""Loaders for the synthetic benchmark tables (TESTDATA.md).

All reads go through ``spark.read.parquet`` so Catalyst gets column
pruning + predicate pushdown into the parquet scan for free. Small
dimension tables are tagged for broadcast at join sites.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_cdc_spark.session import ensure_package_on_executors

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any scale factor we target.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

# Parquet TIMESTAMP(NANOS) columns (read as long nanos via
# spark.sql.legacy.parquet.nanosAsLong) converted to microsecond
# timestamps — same truncation DuckDB applies when it reads them.
_NANO_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Runtime-settable; required even when the caller owns the session
    # (the driver's session won't have it).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Timestamp literals and ts->date casts are session-TZ dependent;
    # the DuckDB oracle compares naive timestamps, so pin UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ensure_package_on_executors(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANO_TS_COLUMNS.get(name, ()):
        if col not in df.columns:
            continue
        dtype = dict(df.dtypes)[col]
        if dtype == "bigint":  # TIMESTAMP(NANOS) read as long nanos
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            )
        elif dtype == "timestamp_ntz":
            # Some scale dirs store micros without UTC adjustment;
            # session TZ is pinned UTC so this cast keeps wall values
            # identical to DuckDB's naive read.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df
