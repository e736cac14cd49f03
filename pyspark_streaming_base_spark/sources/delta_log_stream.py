"""``format("delta_log")`` — a pure-Python Delta DataSource with BOTH
read paths: batch snapshot scans and a microbatch STREAMING reader that
pages the transaction log by commit version.

This is A2 (Delta streaming scan) actually executing without jars: the
jar-backed ``DeltaStreamingSource`` wires ``format("delta")``; this
connector implements the same contract on PySpark 4's public
``pyspark.sql.datasource`` API. Offsets are commit versions — exactly
how Delta streaming sources page a table — so checkpoint resume is a
version number, replay is idempotent, and ``max_versions_per_batch``
is the admission-control knob (A14's role, like ``maxFilesPerTrigger``).

Executor-side I/O: ``partitions()`` returns one split per data FILE
(driver touches only log metadata), and each task reads its parquet
file with pyarrow and yields Arrow record batches — no row data ever
passes through the driver or Python row objects.

Semantics: the stream is the APPEND feed (``dataChange=true`` adds, the
same contract as ``DeltaLogTable.read_changes``); compaction rewrites
are invisible, removes are not replayed. ``starting_version`` gives
stream-side time travel (A16's ``startingVersion``).
"""

from __future__ import annotations

import json
import os
from typing import Iterator, List, Optional, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from pyspark_streaming_base_spark.sources.delta_log import (
    DeltaLogSnapshot,
    _COMMIT_RE,
    decode_path,
    latest_log_version,
    read_commit,
)


class _FileSplit(InputPartition):
    """One parquet data file + its partition-column constants."""

    def __init__(self, path: str, partition_values: dict, schema_json: str, pcols: list):
        self.path = path
        self.partition_values = partition_values
        self.schema_json = schema_json
        self.pcols = pcols


def _read_split(split: _FileSplit) -> Iterator:
    """Executor-side: parquet file → Arrow batches in log-schema order,
    partition columns attached as constants cast to the declared type."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = StructType.fromJson(json.loads(split.schema_json))
    tbl = pq.read_table(split.path)
    n = tbl.num_rows
    arrays, names = [], []
    for field in schema.fields:
        if field.name in split.pcols:
            raw = split.partition_values.get(field.name)
            simple = field.dataType.simpleString()
            if raw is None:
                val = None
            elif simple in ("int", "bigint", "smallint", "tinyint"):
                val = int(raw)
            elif simple in ("double", "float"):
                val = float(raw)
            else:
                val = raw  # string-family: protocol encoding is the value
            arrays.append(pa.array([val] * n))
            names.append(field.name)
        elif field.name in tbl.column_names:
            arrays.append(tbl.column(field.name))
            names.append(field.name)
        else:
            # additive schema evolution: files written before a nullable
            # column was added null-fill it (the Delta mergeSchema read
            # contract) instead of failing the task
            arrays.append(pa.nulls(n))
            names.append(field.name)
    out = pa.Table.from_arrays(
        [a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a for a in arrays],
        names=names,
    )
    yield from out.to_batches()


def _commit_adds(table_path: str, version: int) -> List[Tuple[str, dict]]:
    """(abs path, partitionValues) for dataChange adds of one commit."""
    log_dir = os.path.join(table_path, "_delta_log")
    if not os.path.exists(os.path.join(log_dir, f"{version:020d}.json")):
        raise FileNotFoundError(
            f"commit {version} is below the log-retention horizon "
            f"(clean_log removed it); start the stream at a retained "
            f"version (starting_version) or from a fresh checkpoint"
        )
    return [
        (os.path.join(table_path, decode_path(a["path"])), a.get("partitionValues") or {})
        for action in read_commit(log_dir, version)
        if (a := action.get("add")) and a.get("dataChange", True)
    ]


#: filter types the log-stats pruner understands (single top-level column)
_PRUNABLE = (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
    In,
    IsNull,
    IsNotNull,
)


def _typed_partition_value(raw: Optional[str], simple: str):
    if raw is None:
        return None
    if simple in ("int", "bigint", "smallint", "tinyint"):
        return int(raw)
    if simple in ("double", "float"):
        return float(raw)
    return raw


def _file_may_match(f: Filter, stats: Optional[dict], pv: dict, schema: StructType) -> bool:
    """Conservative file-level predicate: False ONLY when the add-action
    stats / partition values PROVE no row in the file can satisfy ``f``.
    Unknown columns, absent stats, or incomparable types keep the file —
    pruning is an optimization, never a correctness dependency (Spark
    re-evaluates every filter post-scan)."""
    col = f.attribute[0]
    pcols = {x.name: x.dataType.simpleString() for x in schema.fields}
    try:
        if col in pv:
            v = _typed_partition_value(pv[col], pcols.get(col, "string"))
            if isinstance(f, IsNull):
                return v is None
            if isinstance(f, IsNotNull):
                return v is not None
            if v is None:
                return False  # null partition value fails any comparison
            if isinstance(f, EqualTo):
                return v == f.value
            if isinstance(f, GreaterThan):
                return v > f.value
            if isinstance(f, GreaterThanOrEqual):
                return v >= f.value
            if isinstance(f, LessThan):
                return v < f.value
            if isinstance(f, LessThanOrEqual):
                return v <= f.value
            if isinstance(f, In):
                return v in f.value
            return True
        if not stats:
            return True
        mins = stats.get("minValues") or {}
        maxs = stats.get("maxValues") or {}
        nulls = stats.get("nullCount") or {}
        n = stats.get("numRecords")
        if isinstance(f, IsNull):
            return col not in nulls or nulls[col] > 0
        if isinstance(f, IsNotNull):
            return not (n is not None and nulls.get(col) == n)
        if col not in mins or col not in maxs:
            return True
        lo, hi = mins[col], maxs[col]
        if isinstance(f, EqualTo):
            return lo <= f.value <= hi
        if isinstance(f, GreaterThan):
            return hi > f.value
        if isinstance(f, GreaterThanOrEqual):
            return hi >= f.value
        if isinstance(f, LessThan):
            return lo < f.value
        if isinstance(f, LessThanOrEqual):
            return lo <= f.value
        if isinstance(f, In):
            return any(lo <= v <= hi for v in f.value)
        return True
    except TypeError:
        return True  # incomparable types: never prune on a guess


class DeltaLogBatchReader(DataSourceReader):
    """Snapshot scan: the active file set at the latest (or requested)
    version, one split per file."""

    def __init__(self, options):
        self.path = options["path"]
        v = options.get("version")
        self.version: Optional[int] = int(v) if v is not None else None
        self._filters: list = []

    def partitions(self):
        snap = DeltaLogSnapshot(self.path, version=self.version)
        sj = json.dumps(snap.schema.jsonValue())
        schema = snap.schema
        pcols = snap.partition_columns
        stats = snap.file_stats()
        out = []
        for p, pv in snap.files():
            if all(
                _file_may_match(f, stats.get(p), pv, schema)
                for f in self._filters
            ):
                out.append(_FileSplit(p, pv, sj, pcols))
        return out

    def read(self, partition: _FileSplit) -> Iterator:
        return _read_split(partition)


class PruningDeltaLogBatchReader(DeltaLogBatchReader):
    """Batch reader + log-stats data skipping. Split from the base class
    because Spark 4.1 REFUSES a reader that defines ``pushFilters`` when
    ``spark.sql.python.filterPushdown.enabled`` is false — the DataSource
    picks this subclass only when the session enables pushdown."""

    def pushFilters(self, filters):
        """Remember the prunable conjuncts for ``partitions()``. EVERY
        filter is handed back to Spark — pruning decides which files to
        list, not row-level truth."""
        for f in filters:
            if isinstance(f, _PRUNABLE) and len(f.attribute) == 1:
                self._filters.append(f)
            yield f


class DeltaLogStreamReader(DataSourceStreamReader):
    """Microbatch reader paging the log by commit version. The offset is
    ``{"version": last_processed}``; each batch covers the dataChange
    adds of versions (start, end]."""

    def __init__(self, options):
        self.path = options["path"]
        self.start_version = int(options.get("starting_version", "0"))
        self.per_batch = int(options.get("max_versions_per_batch", "1"))
        if self.per_batch < 1:
            raise ValueError("max_versions_per_batch must be >= 1")
        snap = DeltaLogSnapshot(self.path)  # validates table + caches schema
        self._schema_json = json.dumps(snap.schema.jsonValue())
        self._pcols = snap.partition_columns
        #: highest version this reader believes is processed — raised by
        #: every offset Spark hands back (partitions/commit), so a query
        #: RESTART (fresh reader, checkpointed offsets) never re-reads:
        #: the checkpoint, not the cursor, drives the planned ranges.
        self._cursor = self.start_version - 1

    def _latest(self) -> int:
        return latest_log_version(os.path.join(self.path, "_delta_log"))

    def initialOffset(self):
        # versions < starting_version are never read (stream time travel)
        return {"version": self.start_version - 1}

    def latestOffset(self):
        # admission control lives HERE (not in partitions(), where capping
        # would silently skip versions the planner recorded as covered):
        # advertise at most per_batch new versions beyond the cursor
        target = min(self._latest(), self._cursor + self.per_batch)
        self._cursor = max(self._cursor, target)
        return {"version": target}

    def partitions(self, start, end):
        lo, hi = start["version"], end["version"]
        self._cursor = max(self._cursor, lo, hi)
        out = []
        for v in range(lo + 1, hi + 1):
            for p, pv in _commit_adds(self.path, v):
                out.append(_FileSplit(p, pv, self._schema_json, self._pcols))
        return out

    def read(self, partition: _FileSplit) -> Iterator:
        return _read_split(partition)

    def commit(self, end):
        self._cursor = max(self._cursor, end["version"])


class DeltaLogStreamDataSource(DataSource):
    """Register with ``spark.dataSource.register(DeltaLogStreamDataSource)``,
    then::

        spark.read.format("delta_log").option("path", p).load()
        spark.readStream.format("delta_log").option("path", p).load()

    Options: ``path`` (required); batch: ``version`` (snapshot time
    travel, A16); stream: ``starting_version``, ``max_versions_per_batch``
    (admission control, A14).
    """

    @classmethod
    def name(cls) -> str:
        return "delta_log"

    def schema(self):
        return DeltaLogSnapshot(self.options["path"]).schema

    def reader(self, schema: StructType) -> DataSourceReader:
        # log-stats skipping needs the session opt-in (SessionFactory
        # sets it); a vanilla session gets the plain reader — same
        # results, no pruning
        enabled = False
        try:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                enabled = (
                    str(
                        active.conf.get(
                            "spark.sql.python.filterPushdown.enabled", "false"
                        )
                    ).lower()
                    == "true"
                )
        except Exception:
            enabled = False
        cls = PruningDeltaLogBatchReader if enabled else DeltaLogBatchReader
        return cls(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return DeltaLogStreamReader(self.options)
