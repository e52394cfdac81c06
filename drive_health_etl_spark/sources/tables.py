"""Parquet table loaders for the driver star schema (TESTDATA.md).

Scans stay fully declarative so Catalyst pushes filters and prunes columns
into the parquet reader — at 100 TB the scan *is* the query cost, so nothing
here materializes or caches eagerly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

# True dimension tables: always broadcastable regardless of fact-table scale.
DIM_TABLES = ("region", "nation", "supplier", "part")


# Timestamp columns per table. Driver generations have varied: round-1
# testdata was parquet TIMESTAMP(NANOS) (read as long via
# spark.sql.legacy.parquet.nanosAsLong), round-2 is TIMESTAMP(MICROS) without
# isAdjustedToUTC (read as TIMESTAMP_NTZ). Normalize both to session-TZ
# TIMESTAMP (session is pinned UTC, so the NTZ->LTZ cast is value-preserving)
# because watermarks, unix_micros and streaming event time require TIMESTAMP.
# Integer `div` (not `/`) on the nanos path — int64 nanos exceed double's
# 53-bit mantissa.
_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver may hand us a session without our defaults; these two are
    # required for correct reads of the testdata (nanos timestamps) and for
    # UTC-stable date semantics. Both are runtime-settable SQL confs.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # And ship the package to Python workers (pandas UDFs downstream) — a
    # no-op after the first call per app.
    from drive_health_etl_spark.session import ship_package

    ship_package(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _TS_COLUMNS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for the SQL API surface."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
