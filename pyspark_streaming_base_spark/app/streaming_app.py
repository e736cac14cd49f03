"""StreamingApp: checkpoint management + source/sink wiring + query start.

Reference parity: ``StreamingApp``
(``src/pyspark_streaming_base/app/streaming_app.py``, operators A6/A9/A19):

* checkpoint location rule ``{base}/{app_name}/{version|"stable"}/_checkpoints``
  (``app/streaming_app.py:40-62``; asserted ``tests/test_streaming_app.py:5,21``);
* fluent ``with_*_source``/``with_*_sink`` wiring with typed accessors that
  raise on type mismatch (``app/streaming_app.py:136-151,231-233``);
* ``run()`` implements the query-start the reference left as a stub
  (``sinks/delta_sink.py:109-110``, A19).

Fixed vs reference (quirk 2.5.3): ONE canonical version key,
``spark.app.checkpoints.version``; the legacy singular spelling
``spark.app.checkpoint.version`` is still honored (reference reads it at
``app/streaming_app.py:34``) but a warning is logged, and if both are set
with different values it's an error instead of silent divergence.
"""

from __future__ import annotations

from pathlib import Path
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from pyspark_streaming_base_spark.app.app import App
from pyspark_streaming_base_spark.sinks.base import StreamingSink
from pyspark_streaming_base_spark.sources.base import StreamingSource

KEY_CHECKPOINTS_PATH = "spark.app.checkpoints.path"
KEY_CHECKPOINTS_VERSION = "spark.app.checkpoints.version"
KEY_CHECKPOINT_VERSION_LEGACY = "spark.app.checkpoint.version"  # reference spelling
DEFAULT_VERSION_SEGMENT = "stable"  # reference fallback (app/streaming_app.py:56)


class StreamingApp(App):
    """Streaming application: sources + sinks + checkpointed queries."""

    def __init__(self, session: Optional[SparkSession] = None, app_config=None) -> None:
        self._sources: List[StreamingSource] = []
        self._sinks: List[StreamingSink] = []
        super().__init__(session=session, app_config=app_config)

    # -- checkpoints (A6) --------------------------------------------------

    def checkpoint_version(self) -> str:
        canonical = self.conf(KEY_CHECKPOINTS_VERSION)
        legacy = self.conf(KEY_CHECKPOINT_VERSION_LEGACY)
        if canonical and legacy and canonical != legacy:
            raise ValueError(
                f"conflicting checkpoint versions: {KEY_CHECKPOINTS_VERSION}="
                f"{canonical!r} vs legacy {KEY_CHECKPOINT_VERSION_LEGACY}={legacy!r}"
            )
        if legacy and not canonical:
            self.logger.warning(
                "%s is deprecated; use %s",
                KEY_CHECKPOINT_VERSION_LEGACY,
                KEY_CHECKPOINTS_VERSION,
            )
        return canonical or legacy or DEFAULT_VERSION_SEGMENT

    def checkpoint_location(self) -> Path:
        """``{checkpoints.path}/{app_name}/{version|stable}/_checkpoints``.

        Exact derivation rule of the reference (``app/streaming_app.py:40-62``).
        Raises if the base path is unset, mirroring the reference's error.
        """
        base = self.conf(KEY_CHECKPOINTS_PATH)
        if not base:
            raise ValueError(f"{KEY_CHECKPOINTS_PATH} must be configured")
        if not self.name:
            raise RuntimeError("initialize() must run before checkpoint_location()")
        return Path(base) / self.name / self.checkpoint_version() / "_checkpoints"

    # -- source/sink wiring (A9) ------------------------------------------

    def with_source(self, source: StreamingSource) -> "StreamingApp":
        self._sources.append(source)
        return self

    def with_sink(self, sink: StreamingSink) -> "StreamingApp":
        self._sinks.append(sink)
        return self

    def with_kafka_source(self, config_prefix: str = "spark.app.source", config=None):
        from pyspark_streaming_base_spark.sources.kafka import KafkaStreamingSource

        return self.with_source(
            KafkaStreamingSource(config_prefix=config_prefix, config=config, app=self)
        )

    def with_delta_source(self, config_prefix: str = "spark.app.source", config=None):
        from pyspark_streaming_base_spark.sources.delta import DeltaStreamingSource

        return self.with_source(
            DeltaStreamingSource(config_prefix=config_prefix, config=config, app=self)
        )

    def with_file_source(self, config_prefix: str = "spark.app.source", config=None):
        from pyspark_streaming_base_spark.sources.file import FileStreamingSource

        return self.with_source(
            FileStreamingSource(config_prefix=config_prefix, config=config, app=self)
        )

    def with_delta_sink(self, config_prefix: str = "spark.app.sink", config=None):
        from pyspark_streaming_base_spark.sinks.delta import DeltaStreamingSink

        return self.with_sink(
            DeltaStreamingSink(config_prefix=config_prefix, config=config, app=self)
        )

    def with_file_sink(self, config_prefix: str = "spark.app.sink", config=None):
        from pyspark_streaming_base_spark.sinks.file import FileStreamingSink

        return self.with_sink(
            FileStreamingSink(config_prefix=config_prefix, config=config, app=self)
        )

    # typed accessors — RuntimeError on type mismatch, matching the
    # reference's accessor contract (app/streaming_app.py:136-151; tested
    # tests/test_delta_streaming_source.py:42-43)

    def source(self, index: int = 0) -> StreamingSource:
        return self._sources[index]

    def sink(self, index: int = 0) -> StreamingSink:
        return self._sinks[index]

    def _typed(self, obj, cls, kind: str):
        if not isinstance(obj, cls):
            raise RuntimeError(
                f"{kind} is a {type(obj).__name__}, not a {cls.__name__}"
            )
        return obj

    def kafka_source(self, index: int = 0):
        from pyspark_streaming_base_spark.sources.kafka import KafkaStreamingSource

        return self._typed(self.source(index), KafkaStreamingSource, "source")

    def delta_source(self, index: int = 0):
        from pyspark_streaming_base_spark.sources.delta import DeltaStreamingSource

        return self._typed(self.source(index), DeltaStreamingSource, "source")

    def file_source(self, index: int = 0):
        from pyspark_streaming_base_spark.sources.file import FileStreamingSource

        return self._typed(self.source(index), FileStreamingSource, "source")

    def delta_sink(self, index: int = 0):
        from pyspark_streaming_base_spark.sinks.delta import DeltaStreamingSink

        return self._typed(self.sink(index), DeltaStreamingSink, "sink")

    def file_sink(self, index: int = 0):
        from pyspark_streaming_base_spark.sinks.file import FileStreamingSink

        return self._typed(self.sink(index), FileStreamingSink, "sink")

    # -- query execution (A19 — implemented, unlike the reference) ---------

    def run(
        self,
        transform=None,
        available_now: bool = True,
        await_termination: bool = False,
        extra_writer_options: Optional[Dict[str, str]] = None,
    ) -> StreamingQuery:
        """Wire source → optional transform → sink and start the query.

        The reference documents this flow but leaves ``execute()`` as
        ``pass`` (``sinks/delta_sink.py:109-110``); here it's real:
        checkpoint location is injected from A6's rule, ``availableNow``
        gives drain-and-stop semantics (``docs/overview.md:350``).
        """
        if not self._sources or not self._sinks:
            raise RuntimeError("run() requires at least one source and one sink")
        df: DataFrame = self.source().load(self.spark)
        if transform is not None:
            df = transform(df)
        sink = self.sink()
        writer = sink.from_df(df)
        if "checkpointLocation" not in sink.resolved_options(self.spark):
            writer = writer.option("checkpointLocation", str(self.checkpoint_location()))
        for k, v in (extra_writer_options or {}).items():
            writer = writer.option(k, v)
        if available_now:
            writer = writer.trigger(availableNow=True)
        query = sink.execute(writer)
        if await_termination:
            query.awaitTermination()
        return query
