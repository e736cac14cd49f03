"""File streaming source (parquet/json/csv directories).

Not in the reference's connector set — added so the streaming lifecycle is
fully testable without Delta/Kafka jars (the reference's own e2e tests lean
on a committed Delta fixture; here a parquet directory plays that role).
Shares the exact option-resolution machinery of A4/A5.

Scale notes: ``maxFilesPerTrigger`` is the admission-control knob (same
role as the Delta source's, reference ``delta_source.py:10``);
``latestFirst`` flips backfill order. File listing cost dominates at huge
directory counts — partition directories by date and prune with ``path``
globs.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamReader
from pyspark.sql.types import StructType

from pyspark_streaming_base_spark.sources.base import StreamingSource


class FileStreamingSource(StreamingSource):
    FORMAT = "parquet"

    DEFAULT_OPTIONS: Dict[str, str] = {
        "maxFilesPerTrigger": "10",
        "latestFirst": "false",
    }

    DEFAULT_SETTINGS: Dict[str, str] = {
        "path": "",
        "format": "parquet",  # parquet | json | csv | text
    }

    def __init__(self, config_prefix=None, config=None, app=None, schema: Optional[StructType] = None):
        super().__init__(config_prefix=config_prefix, config=config, app=app)
        self.schema = schema

    def with_schema(self, schema: StructType) -> "FileStreamingSource":
        """File streams require an explicit schema (no inference race at
        stream start); set it here or Spark raises at ``load``."""
        self.schema = schema
        return self

    def generate(self, session: Optional[SparkSession] = None) -> DataStreamReader:
        spark = self._session(session)
        fmt = self.setting("format", spark) or "parquet"
        reader = spark.readStream.options(**self.resolved_options(spark)).format(fmt)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader

    def load(self, session: Optional[SparkSession] = None) -> DataFrame:
        spark = self._session(session)
        path = self.setting("path", spark)
        if not path:
            raise ValueError(f"{self.config_prefix}.path must be configured")
        return self.generate(spark).load(path)
