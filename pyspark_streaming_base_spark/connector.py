"""Connector base: the config plumbing ``StreamingSource`` and
``StreamingSink`` share.

Reference parity: the namespace composition both reference bases repeat
(``sources/streaming_source.py:76-89``, ``sinks/streaming_sink.py:60-104``,
operators A1/A3/A5). A connector is configuration under a dotted
namespace:

* ``config_prefix`` composed with the format (``{prefix}.{fmt}``) holds
  non-option settings (table coordinates, writer settings), and the
  ``{prefix}.{fmt}.options`` sub-namespace holds reader/writer options;
* both resolve through :class:`ConfigResolver`'s three tiers (defaults →
  RuntimeConf → direct dict), per instance (fixes quirk 2.5.1) and
  prefix-respecting for every key (fixes 2.5.5).
"""

from __future__ import annotations

from typing import Dict, Mapping, Optional, TYPE_CHECKING

from pyspark.sql import SparkSession

from pyspark_streaming_base_spark.config import ConfigResolver
from pyspark_streaming_base_spark.session import SessionFactory

if TYPE_CHECKING:  # pragma: no cover
    from pyspark_streaming_base_spark.app.streaming_app import StreamingApp


class Connector:
    """Config-driven connector: format, options and settings namespaces."""

    #: Spark datasource format name; subclasses override.
    FORMAT: str = ""

    #: Default ``config_prefix`` of the connector family.
    CONFIG_PREFIX: str = ""

    #: Per-format default reader/writer *options* (string map). Subclasses
    #: override. Copied per instance by ConfigResolver — never mutated
    #: class-level.
    DEFAULT_OPTIONS: Dict[str, str] = {}

    #: Default non-option settings, resolved under ``{config_prefix}.{fmt}``
    #: rather than ``...options``. A class's dict is merged over those of
    #: its bases, so family-wide settings stay defaults of every subclass.
    DEFAULT_SETTINGS: Dict[str, str] = {}

    def __init__(
        self,
        config_prefix: Optional[str] = None,
        config: Optional[Mapping[str, str]] = None,
        app: Optional["StreamingApp"] = None,
    ) -> None:
        if not self.FORMAT:
            raise NotImplementedError("subclass must set FORMAT")
        self.app = app
        prefix = self.CONFIG_PREFIX if config_prefix is None else config_prefix
        self.config_prefix = f"{prefix}.{self.FORMAT}"
        self.config_options_prefix = f"{self.config_prefix}.options"
        defaults: Dict[str, str] = {}
        for klass in reversed(type(self).__mro__):
            defaults.update(vars(klass).get("DEFAULT_SETTINGS", {}))
        # Direct-dict config may address either namespace with full keys;
        # bare keys are settings when they name one, else option names
        # (reference behavior: defaults dicts use bare option names).
        opts: Dict[str, str] = {}
        settings: Dict[str, str] = {}
        for k, v in dict(config or {}).items():
            if k.startswith(self.config_options_prefix + "."):
                opts[k[len(self.config_options_prefix) + 1 :]] = v
            elif k.startswith(self.config_prefix + "."):
                settings[k[len(self.config_prefix) + 1 :]] = v
            else:
                (settings if k in defaults else opts)[k] = v
        self._options = ConfigResolver(
            prefix=self.config_options_prefix,
            defaults=self.DEFAULT_OPTIONS,
            overrides=opts,
        )
        self._settings = ConfigResolver(
            prefix=self.config_prefix, defaults=defaults, overrides=settings
        )

    def resolved_options(self, session: Optional[SparkSession] = None) -> Dict[str, str]:
        """Final reader/writer options dict (A5 projection, all three tiers)."""
        return self._options.resolve(session=session)

    def setting(self, key: str, session: Optional[SparkSession] = None) -> Optional[str]:
        return self._settings.get(key, session=session)

    def _session(self, session: Optional[SparkSession]) -> SparkSession:
        if session is not None:
            return session
        if self.app is not None:
            return self.app.spark
        return SessionFactory.get_or_active()


class ManagedTable:
    """Managed-vs-path table naming shared by the Delta source and sink
    (A10, reference ``sources/delta_source.py:63-89``,
    ``sinks/delta_sink.py:50-62``). Mixed into a :class:`Connector` whose
    settings gain ``catalog``/``databaseOrSchema``/``tableName``."""

    DEFAULT_SETTINGS: Dict[str, str] = {
        "catalog": "",
        "databaseOrSchema": "",
        "tableName": "",
    }

    def table_name(self, session: Optional[SparkSession] = None) -> str:
        """Join ``catalog.databaseOrSchema.tableName`` parts; ValueError if
        all are empty."""
        parts = [
            self.setting("catalog", session),
            self.setting("databaseOrSchema", session),
            self.setting("tableName", session),
        ]
        joined = ".".join(p for p in parts if p)
        if not joined:
            raise ValueError(
                f"no table name parts configured under {self.config_prefix}"
            )
        return joined

    @staticmethod
    def is_managed(name: str) -> bool:
        """Managed ⇔ multi-part dotted name."""
        return "." in name
