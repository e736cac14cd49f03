"""Scale-adaptive parallelism for expensive per-row stages over a
small-split input — the ONE definition of the conditional-repartition
pattern; queries and operators import it from here directly.

Rationale (r13, guide §2.5 input skew): the fixture tables are single
parquet files with one row group, so every scan-rooted stage otherwise
runs as ONE task while the other cores idle. Repartition to
``defaultParallelism`` ONLY when the scan has fewer splits than cores;
at 100 TB the input's own splits exceed the core count and this adds NO
exchange. Hash on ``cols`` (deterministic — avoids the round-robin
sort-before-repartition and the retry hazard of guide §2.5) when given,
round-robin otherwise. Values are unaffected: every consumer in this
repo is partition-order independent by the exact-math invariants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, *cols: str) -> DataFrame:
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        if cols:
            return df.repartition(sc.defaultParallelism, *cols)
        return df.repartition(sc.defaultParallelism)
    return df
