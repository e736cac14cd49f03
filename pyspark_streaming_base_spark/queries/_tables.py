"""Table loading helpers for the driver's synthetic parquet tables.

Tables + schemas per /root/repo/FIXTURES.md §3: TPC-H-ish star schema
(region nation customer supplier part orders lineitem) + events (stream
table), documents (text/dedup), embeddings (vector search).

Scale notes (100 TB design):

* Dimension tables (region/nation/supplier/part/customer at typical star
  ratios) are broadcast-joined — ``dim()`` returns a broadcast-hinted
  DataFrame so no shuffle is planned for the big fact side.
* Fact tables are read straight from parquet: Catalyst pushes filters and
  prunes columns at the scan (verify via ``.explain`` → ``PushedFilters``,
  ``ReadSchema``), so a query touching 3 of 11 lineitem columns reads 3.
"""

from __future__ import annotations

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

#: Tables small enough (at any realistic scale factor) to broadcast.
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table; plain parquet scan, pushdown-friendly.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark 4
    rejects by default (PARQUET_TYPE_ILLEGAL). We read nanos as long via the
    legacy conf and rebuild a microsecond TimestampType with *integer*
    division (``div 1000`` — double division would lose precision on
    10^18-scale nanos), matching DuckDB's nanos→micros truncation exactly.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Generator encoding drifts round-to-round (nanos vs NTZ micros).
            # Normalize to TIMESTAMP (LTZ): watermarks/event-time ops require
            # it, and the wall-clock value round-trips unchanged because
            # Spark renders LTZ in the same session timezone the NTZ cast
            # interpreted it in — so oracle value parity is tz-independent.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a dimension table with a broadcast hint for shuffle-free joins."""
    return F.broadcast(t(spark, sf_dir, name))

