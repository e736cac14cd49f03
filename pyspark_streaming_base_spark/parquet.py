"""The package's one parquet reader: each table's schema is learned
once, and every later read declares it.

An inferred ``spark.read.parquet(path)`` launches a Spark job to read a
footer (~100–400 ms on 4 vCPUs at sf0.01); a declared
``spark.read.schema(s).parquet(path)`` launches none (~20–30 ms). The
reference framework's connectors own their schemas (the Delta log's
``schemaString``, the fixed Kafka schema) and Structured Streaming makes
file sources declare theirs; this module gives the synthetic tables and
the persisted index tables the same footing without hard-coding a
schema (the generator's ``events.ts`` encoding drifts between runs).

``read_parquet`` infers a table's schema through Spark's own inference
the first time it sees the table, then replays it as a declared schema.
The memo key is the table's file listing — every file's relative name,
size and ``mtime_ns`` — so a table rewritten, appended to or rebuilt at
the same path is inferred afresh and never read under a stale schema.
The memo holds at most one entry per path and at most ``MEMO_PATHS``
paths (the oldest inference goes first: generation directories and
per-batch files are new paths every time). Several paths in one call
are read inferred (there is no single table to key on).

TIMESTAMP(NANOS) columns: Spark 4 rejects them at inference
(PARQUET_TYPE_ILLEGAL) unless ``spark.sql.legacy.parquet.nanosAsLong``
is set, and then types them ``bigint`` (nanoseconds). The conf is set
for the inference alone and the caller's value restored afterwards; a
declared ``bigint`` read needs no conf, so no read leaves the session
changed.
"""

from __future__ import annotations

import os
import threading
from typing import Dict, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: most paths the memo remembers
MEMO_PATHS = 1024

#: absolute path -> (file listing, schema) of the last inference
_memo: Dict[str, Tuple[tuple, StructType]] = {}
#: guards the memo and the nanos conf (session-wide: one scoped
#: set/restore at a time)
_lock = threading.Lock()


def _listing(path: str) -> tuple:
    """(relative name, size, mtime_ns) of every file under ``path`` (or
    of ``path`` itself), sorted; empty when nothing local is there or a
    file vanished mid-listing (the read then infers, and reports a
    missing table the way Spark does)."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        out = []
        for root, _dirs, files in os.walk(path, followlinks=True):
            for fn in files:
                st = os.stat(os.path.join(root, fn))
                rel = os.path.relpath(os.path.join(root, fn), path)
                out.append((rel, st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))
    except FileNotFoundError:
        return ()


def _infer(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet`` with ``NANOS_AS_LONG`` set for the
    inference only; the session's previous value (or its absence) is
    restored."""
    with _lock:
        prev = spark.conf.get(NANOS_AS_LONG, None)  # None: not set
        spark.conf.set(NANOS_AS_LONG, "true")
        try:
            return spark.read.parquet(*paths)
        finally:
            if prev is None:
                spark.conf.unset(NANOS_AS_LONG)
            else:
                spark.conf.set(NANOS_AS_LONG, prev)


def read_parquet(spark: SparkSession, path: str, *more: str) -> DataFrame:
    """Read the parquet table at ``path``: declared from the memo when
    its file listing is unchanged since the last inference, else
    inferred once (and memoized). Extra paths are read together,
    inferred."""
    if more:
        return _infer(spark, path, *more)
    key = os.path.abspath(path)
    listing = _listing(key)
    hit = _memo.get(key)
    if listing and hit is not None and hit[0] == listing:
        return spark.read.schema(hit[1]).parquet(path)
    df = _infer(spark, path)
    if listing:
        schema = df.schema
        with _lock:
            _memo.pop(key, None)
            _memo[key] = (listing, schema)
            if len(_memo) > MEMO_PATHS:
                del _memo[next(iter(_memo))]
    return df
