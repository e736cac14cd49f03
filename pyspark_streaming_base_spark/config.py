"""Three-tier configuration resolution.

The reference resolves every connector option through three tiers —
hardcoded defaults → SparkSession RuntimeConf → directly-passed dict
(``docs/overview.md:23-26``, ``CLAUDE.md:75-81``) — with the dict taking
precedence, RuntimeConf next, defaults last. This module re-implements those
semantics as one instance-safe class, fixing the reference's sharp edges
(SURVEY.md §2.5):

* per-instance option dicts — the reference mutates *class-level* dicts in
  place (``sources/streaming_source.py:28`` + ``sources/delta_source.py:127``)
  so two instances cross-contaminate;
* prefix-respecting lookups for *every* key — the reference hardcodes the
  full key for ``maxOffsetsPerTrigger`` (``sources/kafka_source.py:204-206``)
  breaking multi-source prefixes;
* empty string counts as unset, matching ``sources/delta_source.py:104-108``
  and ``sinks/streaming_sink.py:100-104``.

All values are strings — Spark RuntimeConf and reader/writer ``.options()``
are string maps.
"""

from __future__ import annotations

from typing import Dict, Mapping, Optional

from pyspark.sql import SparkSession


class ConfigResolver:
    """Resolves dotted config keys under a prefix from three tiers.

    Tier precedence (highest wins), matching the reference
    (``docs/overview.md:23-26``):

    1. ``overrides`` — directly-passed dict (reference: config dict argument,
       ``sources/streaming_source.py:82-89``)
    2. SparkSession RuntimeConf — ``spark.conf.get(f"{prefix}.{key}")``
       (reference: ``with_config_from_spark``,
       ``sources/delta_source.py:110-128``)
    3. ``defaults`` — hardcoded per-connector defaults
       (reference: class-level dicts, ``sources/kafka_source.py:14-70``)
    """

    def __init__(
        self,
        prefix: str = "",
        defaults: Optional[Mapping[str, str]] = None,
        overrides: Optional[Mapping[str, str]] = None,
    ) -> None:
        self.prefix = prefix.rstrip(".")
        # Copies, never shared references: fixes reference quirk 2.5.1
        # (class-level mutable dicts shared across instances).
        self._defaults: Dict[str, str] = dict(defaults or {})
        self._overrides: Dict[str, str] = {
            k: v for k, v in (overrides or {}).items() if v is not None
        }

    # -- key math ---------------------------------------------------------

    def full_key(self, key: str) -> str:
        """``{prefix}.{key}``, or bare ``key`` when no prefix is set."""
        return f"{self.prefix}.{key}" if self.prefix else key

    @staticmethod
    def _is_set(value: Optional[str]) -> bool:
        # Empty string counts as unset (sources/delta_source.py:104-108).
        return value is not None and value != ""

    # -- resolution -------------------------------------------------------

    def get(
        self,
        key: str,
        session: Optional[SparkSession] = None,
        default: Optional[str] = None,
    ) -> Optional[str]:
        """Resolve one key through override → RuntimeConf → defaults."""
        ov = self._overrides.get(key)
        if self._is_set(ov):
            return ov
        if session is not None:
            try:
                rc = session.conf.get(self.full_key(key), None)
            except Exception:
                rc = None
            if self._is_set(rc):
                return rc
        dv = self._defaults.get(key)
        if self._is_set(dv):
            return dv
        return default

    def resolve(self, session: Optional[SparkSession] = None) -> Dict[str, str]:
        """Resolve every known key (defaults ∪ overrides) to its final value.

        The result feeds ``.options(**opts)`` directly; ``None``/unset values
        are dropped, mirroring the reference's ``options()`` projection
        (``sources/streaming_source.py:125-143``) without its dead
        prefix-strip branch (quirk 2.5.2).
        """
        keys = dict(self._defaults)
        keys.update(self._overrides)
        out: Dict[str, str] = {}
        for key in keys:
            val = self.get(key, session=session)
            if self._is_set(val):
                out[key] = str(val)
        return out

    # -- mutation ---------------------------------------------------------

    def with_override(self, key: str, value: Optional[str]) -> "ConfigResolver":
        if value is None:
            self._overrides.pop(key, None)
        else:
            self._overrides[key] = str(value)
        return self
