"""StreamingSink base: config-materialized ``DataStreamWriter`` factory.

Reference parity: ``StreamingSink``
(``src/pyspark_streaming_base/sinks/streaming_sink.py:6-164``, operators
A3/A17/A18): a sink is configuration that turns a DataFrame into a
``df.writeStream`` writer with resolved options, output mode, layout
(``partitionBy``/``clusterBy``), query name, and trigger policy — plus the
``execute()`` step the reference stubs out (A19), implemented here.

Fixed vs reference: per-instance option state (quirk 2.5.1); dotted option
keys resolve under the options prefix without doubling (quirk 2.5.9).
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from pyspark_streaming_base_spark.connector import Connector


class StreamingSink(Connector):
    """Abstract config-driven streaming sink (reference A3/A17/A18/A19)."""

    CONFIG_PREFIX = "spark.app.sink"

    #: Writer-level (non-option) settings, resolved under ``{prefix}.{fmt}``:
    #: outputMode/queryName/trigger/partitionBy/clusterBy
    #: (reference ``sinks/streaming_sink.py:15-23``).
    DEFAULT_SETTINGS: Dict[str, str] = {
        "outputMode": "append",
        "queryName": "",
        "partitionBy": "",
        "clusterBy": "",
        "path": "",
        # pre-flight output-mode × watermark legality check (SURVEY §7
        # watch list); "false" disables, "strict" also rejects
        # legal-but-unbounded-state shapes (streaming/legality.py)
        "validate": "true",
    }

    # -- writer factory (A3) ----------------------------------------------

    def from_df(self, df: DataFrame) -> DataStreamWriter:
        """``df.writeStream`` with resolved options + writer settings.

        Reference shape: ``fromDF`` → ``generate(df)`` →
        ``df.writeStream.options(...).format(fmt)``
        (``sinks/delta_sink.py:91-107``, ``sinks/streaming_sink.py:126-146``),
        with outputMode/queryName/partitionBy applied here rather than left
        to the caller.
        """
        spark = df.sparkSession
        writer = self._mode_and_name(
            df, df.writeStream.options(**self.resolved_options(spark)).format(self.FORMAT)
        )
        pby = self.setting("partitionBy", spark)
        if pby:
            writer = writer.partitionBy(*[c.strip() for c in pby.split(",") if c.strip()])
        cby = self.setting("clusterBy", spark)
        if cby:
            writer = writer.clusterBy(*[c.strip() for c in cby.split(",") if c.strip()])
        return writer

    def _mode_and_name(self, df: DataFrame, writer: DataStreamWriter) -> DataStreamWriter:
        """Validate ``df`` against the configured output mode, then apply
        outputMode and (when set) queryName to ``writer``."""
        mode = self.setting("outputMode", df.sparkSession) or "append"
        self._validate(df, mode)
        writer = writer.outputMode(mode)
        qname = self.setting("queryName", df.sparkSession)
        return writer.queryName(qname) if qname else writer

    def _validate(self, df: DataFrame, mode: str) -> None:
        """Pre-flight legality check (good errors at wiring time instead of
        Spark's start-time AnalysisException). Gated by the ``validate``
        setting: "true" (default), "false", or "strict"."""
        setting = (self.setting("validate", df.sparkSession) or "true").lower()
        if setting == "false":
            return
        from pyspark_streaming_base_spark.streaming.legality import check_output_mode

        check_output_mode(df, mode, strict=setting == "strict")

    # reference alias (``sinks/delta_sink.py:91``)
    fromDF = from_df

    # -- query start (A19 — the stub the reference never implemented) ------

    def execute(self, writer: DataStreamWriter) -> StreamingQuery:
        """Start the query: ``.start(path)`` when a path is configured,
        else ``.toTable()`` for managed targets, else bare ``.start()``.

        Settings resolve against the active session so RuntimeConf-tier
        config (entry point 3) is honored at start time.
        """
        path = self.setting("path", self._session(None))
        if path:
            return writer.start(path)
        return writer.start()
