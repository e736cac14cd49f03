"""Delta Lake streaming sink (reference parity: A3/A12/A13).

Option vocabulary and defaults mirror ``DeltaStreamingSink``
(``src/pyspark_streaming_base/sinks/delta_sink.py:13-37``): schema-evolution
gate (``mergeSchema='false'`` — "prevent bad changes from automatically
propagating", ``delta_sink.py:21-23``), file sizing
(``maxRecordsPerFile=100000``), compaction and optimized writes, idempotent
write identifiers (``txnAppId``/``txnVersion`` — declared by the reference,
actually *wired* here via :mod:`..sinks.foreach_batch`).

Managed-table resolution matches the source side (A10,
``sinks/delta_sink.py:50-62``).

Scale notes: ``optimizeWrite`` + ``autoCompact`` keep file counts sane under
high-frequency micro-batches — without them a 1-second trigger writes
86,400 files/day/partition.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from pyspark_streaming_base_spark.connector import ManagedTable
from pyspark_streaming_base_spark.sinks.base import StreamingSink


class DeltaStreamingSink(ManagedTable, StreamingSink):
    FORMAT = "delta"

    DEFAULT_OPTIONS: Dict[str, str] = {
        "mergeSchema": "false",
        "maxRecordsPerFile": "100000",
        # Delta write-layout tuning (delta_sink.py:24-36). Resolved under
        # the options prefix directly — the reference probes these dotted
        # keys under a doubled prefix and can never find them (quirk 2.5.9).
        "spark.databricks.delta.autoCompact.enabled": "true",
        "spark.databricks.delta.autoCompact.minNumFiles": "10",
        "spark.databricks.delta.optimizeWrite.enabled": "true",
    }

    DEFAULT_SETTINGS: Dict[str, str] = {
        "txnAppId": "",
        "userMetadata": "",
    }

    def execute(self, writer: DataStreamWriter) -> StreamingQuery:
        """Start to path or managed table (implements reference stub A19,
        ``sinks/delta_sink.py:109-110``)."""
        session = self._session(None)
        path = self.setting("path", session)
        if path:
            return writer.start(path)
        return writer.toTable(self.table_name(session))
