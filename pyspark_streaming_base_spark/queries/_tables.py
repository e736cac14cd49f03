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

from pyspark_streaming_base_spark.parquet import read_parquet

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

    Reads go through ``parquet.read_parquet``: the table's schema is
    inferred once per file listing and declared on every later read, so
    building a query launches no schema-inference job and leaves the
    session conf as it found it. ``events`` is normalised by
    ``events_ts``.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    return events_ts(df) if name == "events" else df


def events_ts(df: DataFrame) -> DataFrame:
    """``events`` with ``ts`` as a microsecond TIMESTAMP (LTZ).

    The generator writes ``ts`` either as parquet TIMESTAMP(NANOS), which
    ``read_parquet`` declares ``bigint`` nanoseconds, or as NTZ micros.
    Nanos become micros by *integer* division (``div 1000`` — double
    division would lose precision on 10^18-scale nanos), matching
    DuckDB's nanos→micros truncation exactly. NTZ is cast to LTZ:
    watermarks/event-time ops require it, and the wall-clock value
    round-trips unchanged because Spark renders LTZ in the same session
    timezone the NTZ cast interpreted it in — so oracle value parity is
    tz-independent.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a dimension table with a broadcast hint for shuffle-free joins."""
    return F.broadcast(t(spark, sf_dir, name))

