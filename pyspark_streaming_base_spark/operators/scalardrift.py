"""Scalar-column drift monitoring — q141's production path, built on the
same persisted-baseline conventions as the vector monitor
(``operators/drift.py``): freeze the reference distribution at build
time, compare every incoming batch against it with cheap deterministic
statistics, fold accepted batches in.

What is frozen: the histogram EDGES (min/max/bucket count written at
baseline build — the scalar analogue of a frozen quantizer). Batches are
bucketed under those edges with clamping on BOTH ends, so a batch that
wanders outside the build-time range piles into the edge buckets and
shows up as occupancy drift instead of silently re-gridding the
comparison. What is mergeable: the per-bucket counts (additive), so
``merge_scalar_baseline`` after an accepted batch equals a rebuild over
the union under the same edges — exactly, integers. And retractable:
each accepted batch's counts append under their own SEGMENT id, so a
poisoned batch is removed by deleting its segment's rows
(``remove_scalar_baseline``) — merge-then-remove leaves literally the
same rows as never-merged (the ``operators/drift.py`` contract).

Signals per batch (both one map-side aggregate over the batch + a
≤buckets-row broadcast of the baseline):

* **chi-square** vs the baseline proportions, with +0.5 Laplace
  smoothing on the expected counts so never-seen buckets cannot divide
  by zero (a batch landing mass there drifts loudly, not NaN-ly);
* **total-variation distance** ½·Σ|p_batch − p_base| — the reweighting
  signal, bounded [0, 1], threshold-friendly.

The oracle-checked q141 (``queries/pipeline.py``) pins the same
chi2/TV bucket math against DuckDB with exact cross-engine arithmetic;
this module adds the persisted lifecycle around it. Pearson chi-square /
Laplace smoothing — public statistics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.parquet import read_parquet

__all__ = [
    "write_scalar_baseline",
    "scalar_drift_report",
    "merge_scalar_baseline",
    "remove_scalar_baseline",
    "scalar_segments",
]

#: Defaults: q141's geometry; chi2 critical value for df=15 at α=0.001.
DEFAULT_BUCKETS = 16
DEFAULT_CHI2_CRIT = 37.697
DEFAULT_TV_MAX = 0.25


def _bucket(col: Column, mn: Column, mx: Column, n_buckets: Column) -> Column:
    """Frozen-edge bucket id, clamped on BOTH ends (batches may exceed
    the build-time range)."""
    raw = F.floor(((col - mn) / (mx - mn)) * n_buckets.cast("double")).cast(
        "bigint"
    )
    return F.least(n_buckets - 1, F.greatest(F.lit(0).cast("bigint"), raw))


def _bucket_counts(df: DataFrame, col: str, edges: DataFrame) -> DataFrame:
    return (
        df.select(F.col(col).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .crossJoin(F.broadcast(edges))
        .select(_bucket(F.col("_v"), F.col("mn"), F.col("mx"), F.col("nb")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def write_scalar_baseline(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    col: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Freeze the reference distribution: edges (min/max/buckets, the
    'quantizer') + per-bucket counts (the mergeable partials)."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    edges = df.agg(
        F.min(col).cast("double").alias("mn"),
        F.max(col).cast("double").alias("mx"),
        F.lit(n_buckets).cast("bigint").alias("nb"),
    )
    edges.write.mode("overwrite").parquet(f"{path}/edges")
    edges = read_parquet(spark, f"{path}/edges")
    _bucket_counts(df, col, edges).withColumn(
        "segment", F.lit("build")
    ).write.mode("overwrite").parquet(f"{path}/counts")


def _read_counts(spark: SparkSession, path: str) -> DataFrame:
    """The segmented counts table; pre-segment legacy tables read as one
    'build' segment."""
    c = read_parquet(spark, f"{path}/counts")
    if "segment" not in c.columns:
        c = c.withColumn("segment", F.lit("build"))
    return c


def scalar_segments(spark: SparkSession, path: str) -> list:
    """The baseline's segment ids, sorted — the retraction units."""
    return sorted(
        r["segment"]
        for r in _read_counts(spark, path).select("segment").distinct().collect()
    )


def scalar_drift_report(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    col: str,
    chi2_crit: float = DEFAULT_CHI2_CRIT,
    tv_max: float = DEFAULT_TV_MAX,
) -> DataFrame:
    """One-row report for a batch vs the frozen baseline: ``(n_batch,
    chi2, tv_dist, chi2_drift, tv_drift, drifted)``. Cost: one batch
    aggregate + a ≤buckets-row broadcast grid."""
    if chi2_crit <= 0 or not 0 < tv_max <= 1:
        raise ValueError(f"bad thresholds: {chi2_crit}, {tv_max}")
    edges = read_parquet(spark, f"{path}/edges")
    base = (
        _read_counts(spark, path)
        .groupBy("bucket")
        .agg(F.sum("n").cast("bigint").alias("nb_base"))
    )
    got = _bucket_counts(batch, col, edges).select(
        "bucket", F.col("n").alias("nb_batch")
    )
    nb = edges.select(F.col("nb").alias("k"))
    grid = (
        nb.select(F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("k") - 1)).alias("bucket"))
        .join(base, "bucket", "left")
        .join(got, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("nb_base", F.lit(0)).cast("bigint").alias("cb"),
            F.coalesce("nb_batch", F.lit(0)).cast("bigint").alias("ct"),
        )
    )
    tot = grid.agg(
        F.sum("cb").cast("double").alias("n_base"),
        F.sum("ct").cast("double").alias("n_batch"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    g = grid.crossJoin(F.broadcast(tot))
    # Laplace-smoothed expected count: e = n_batch * (cb + 0.5)/(n_base + k/2)
    e = (F.col("n_batch") * (F.col("cb") + F.lit(0.5))) / (
        F.col("n_base") + F.col("k") * F.lit(0.5)
    )
    diff = F.col("ct").cast("double") - e
    chi9 = F.floor(((diff * diff) / e) * F.lit(1e9) + F.lit(0.5)).cast("bigint")
    tv9 = F.floor(
        F.abs(
            (F.col("ct").cast("double") / F.col("n_batch"))
            - (F.col("cb").cast("double") / F.col("n_base"))
        )
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("bigint")
    rep = g.select("n_batch", chi9.alias("chi9"), tv9.alias("tv9")).groupBy(
        "n_batch"
    ).agg(
        (F.sum("chi9").cast("double") / F.lit(1e9)).alias("chi2"),
        (F.lit(0.5) * (F.sum("tv9").cast("double") / F.lit(1e9))).alias(
            "tv_dist"
        ),
    )
    return rep.select(
        F.col("n_batch").cast("bigint").alias("n_batch"),
        "chi2",
        "tv_dist",
        (F.col("chi2") > F.lit(chi2_crit)).alias("chi2_drift"),
        (F.col("tv_dist") > F.lit(tv_max)).alias("tv_drift"),
        (
            (F.col("chi2") > F.lit(chi2_crit))
            | (F.col("tv_dist") > F.lit(tv_max))
        ).alias("drifted"),
    )


def merge_scalar_baseline(
    spark: SparkSession, path: str, batch: DataFrame, col: str, segment: str = None
) -> str:
    """Fold an ACCEPTED batch into the baseline counts under the frozen
    edges — additive integers, so merge-after-build equals
    build-on-the-union exactly. The batch's counts APPEND under their
    own segment id (O(batch), individually retractable via
    :func:`remove_scalar_baseline`); returns the id (auto ``seg-<i>``
    when not supplied; an existing id raises). Edges are never rewritten
    (retrain = ``write_scalar_baseline`` from scratch, the quantizer
    contract)."""
    # one-time legacy upgrade so appends can't create a mixed-schema dir
    c = read_parquet(spark, f"{path}/counts")
    if "segment" not in c.columns:
        c.withColumn("segment", F.lit("build")).localCheckpoint(
            eager=True
        ).write.mode("overwrite").parquet(f"{path}/counts")
    existing = set(scalar_segments(spark, path))
    if segment is None:
        i = len(existing)
        while f"seg-{i}" in existing:
            i += 1
        segment = f"seg-{i}"
    elif segment in existing:
        raise ValueError(f"segment {segment!r} already exists in the baseline")
    edges = read_parquet(spark, f"{path}/edges")
    _bucket_counts(batch, col, edges).withColumn(
        "segment", F.lit(segment)
    ).write.mode("append").parquet(f"{path}/counts")
    return segment


def remove_scalar_baseline(spark: SparkSession, path: str, segment: str) -> None:
    """RETRACT one segment (a poisoned batch): delete its rows — exact
    integer removal, no subtraction; merge-then-remove == never-merged
    bit for bit. Unknown segments raise (the retraction-path rule)."""
    if segment not in set(scalar_segments(spark, path)):
        raise ValueError(f"unknown baseline segment {segment!r}")
    remaining = _read_counts(spark, path).filter(F.col("segment") != segment)
    # parquet overwrite would delete the input mid-plan; stage first
    remaining.localCheckpoint(eager=True).write.mode("overwrite").parquet(
        f"{path}/counts"
    )
