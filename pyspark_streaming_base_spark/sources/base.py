"""StreamingSource base: config-materialized ``DataStreamReader`` factory.

Reference parity: ``StreamingSource``
(``src/pyspark_streaming_base/sources/streaming_source.py:6-159``,
operators A1/A4/A5). A source is configuration that knows how to produce a
``spark.readStream`` reader:

* ``config_prefix`` (default ``spark.app.source``) → the ``{prefix}.{fmt}``
  settings and ``{prefix}.{fmt}.options`` option namespaces with
  three-tier resolution (shared :class:`~..connector.Connector` plumbing,
  same composition as ``sources/streaming_source.py:76-80``);
* ``generate(session)`` → ``spark.readStream.options(**opts).format(fmt)``
  (``sources/streaming_source.py:51``);
* ``load(session)`` → the bound streaming DataFrame (bare ``.load()``
  unless a subclass binds a path or table).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamReader

from pyspark_streaming_base_spark.connector import Connector


class StreamingSource(Connector):
    """Abstract config-driven streaming source (reference A1/A4/A5)."""

    CONFIG_PREFIX = "spark.app.source"

    def generate(self, session: Optional[SparkSession] = None) -> DataStreamReader:
        """Build the configured ``DataStreamReader``.

        Equivalent of ``sources/streaming_source.py:145-159`` +
        ``:51`` — resolve options, then
        ``spark.readStream.options(**opts).format(fmt)``.
        """
        spark = self._session(session)
        opts = self.resolved_options(spark)
        return spark.readStream.options(**opts).format(self.FORMAT)

    def load(self, session: Optional[SparkSession] = None) -> DataFrame:
        """Bind the reader (Kafka-style sources load bare)."""
        return self.generate(session).load()
