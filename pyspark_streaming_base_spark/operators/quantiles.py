"""Persisted MERGEABLE quantile state — the lifecycle form of the
one-shot percentile queries (q78's ``percentile_approx``, q116's
equi-depth histogram, q186's exact SLA percentiles), built on the same
segment conventions as ``operators/scalardrift.py``: additive integer
partials appended under retractable SEGMENT ids, so *merge equals
rebuild* exactly and a poisoned batch is removed by deleting its
segment's rows.

Two tiers, matching q116's size-gating philosophy:

* **Value-domain histogram** (``*_value_histogram``) — for BOUNDED
  integer domains (day lags, status codes, bucketed latencies): state is
  ``(key, value, c)`` counts, so every read is EXACT — n, mean (via the
  exact ``Σ value·c`` channel), min/max, and percentile-disc order
  statistics (the ⌈p·n⌉ rule). This is q186's streaming substrate:
  :func:`quantile_fold_sink` folds each micro-batch's counts under
  ``segment = "batch-<id>"`` inside ``foreachBatch`` — replayed batches
  are NO-OPS (the segment already exists), giving exactly-once folds on
  at-least-once delivery — and :func:`sla_report` reproduces the batch
  q186 report from the persisted state alone. Legality bound: the state
  size is O(|keys| · |value domain|), which for calendar-bounded lags is
  a few thousand rows per key regardless of corpus size (q186's own
  argument). NOT for unbounded/continuous values — that is the next
  tier's job.

* **Equi-depth sketch** (``*_equidepth_sketch``) — for continuous
  domains: bucket EDGES are frozen at build time (interior cut points
  from ``percentile_approx`` — the frozen-quantizer contract shared with
  ``scalardrift``'s frozen min/max), per-bucket counts and bucket-max
  values are the mergeable partials (counts add, maxes max — both exact
  under any merge order). Percentile reads return the covering bucket's
  observed max value with an EXACT rank-error bound from the observed
  occupancy: the returned value's true rank lies in ``(cum_before,
  cum_at]`` and the target ⌈p·n⌉ is in the same interval, so the error
  is < that bucket's count — the bound holds however far post-merge
  drift has skewed the frozen buckets (skew widens the BOUND, never
  invalidates it). Cut quality only affects tightness.

Mergeability here is the Greenwald-Khanna/t-digest DEPLOYMENT property
(fold partial summaries without raw-data replay) implemented with the
simplest structure that is exact-under-merge: fixed buckets + integer
counts (Ben-Haim & Tom-Tov's streaming histogram, frozen-bin variant —
public). Cross-engine exactness discipline: all counts int64; the only
doubles are frozen edges, observed maxima, and final single divisions.
"""

from __future__ import annotations

from typing import Callable, Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.parquet import read_parquet

__all__ = [
    "build_value_histogram",
    "merge_value_histogram",
    "remove_value_histogram",
    "value_histogram_segments",
    "read_value_histogram",
    "sla_report",
    "quantile_fold_sink",
    "build_equidepth_sketch",
    "merge_equidepth_sketch",
    "remove_equidepth_sketch",
    "equidepth_segments",
    "equidepth_percentiles",
]

#: q116's geometry by default; cut-point estimation accuracy for the
#: frozen edges (estimation only — rank-error bounds come from observed
#: occupancy, not cut quality).
DEFAULT_BUCKETS = 64
DEFAULT_ACCURACY = 10_000


# ---------------------------------------------------------------------------
# Tier 1 — value-domain histogram (bounded integer domains; exact reads)
# ---------------------------------------------------------------------------


def _value_counts(df: DataFrame, key_col: str, val_col: str) -> DataFrame:
    return (
        df.select(
            F.col(key_col).alias("key"),
            F.col(val_col).cast("bigint").alias("value"),
        )
        .filter(F.col("value").isNotNull())
        .groupBy("key", "value")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def build_value_histogram(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    key_col: str,
    val_col: str,
) -> None:
    """Freeze the initial state: per-(key, value) counts under segment
    ``'build'``. One corpus aggregate — the explode-free q186 shape."""
    _value_counts(df, key_col, val_col).withColumn(
        "segment", F.lit("build")
    ).write.mode("overwrite").parquet(f"{path}/counts")


def value_histogram_segments(spark: SparkSession, path: str) -> list:
    """Segment ids of the ``counts`` table at ``path``, sorted — the
    retraction/idempotence units (of the equi-depth sketch too:
    ``equidepth_segments``)."""
    return sorted(
        r["segment"]
        for r in read_parquet(spark, f"{path}/counts")
        .select("segment")
        .distinct()
        .collect()  # bounded: one row per accepted batch
    )


def merge_value_histogram(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    key_col: str,
    val_col: str,
    segment: Optional[str] = None,
) -> str:
    """Fold a batch in: O(batch) — aggregate the batch, APPEND under its
    own segment id. Counts are additive integers, so merge-after-build
    equals build-on-the-union exactly, under any arrival order (unlike
    ``transition_stream``, no ordering precondition — a count is a
    count). An existing id raises (idempotent callers check first;
    :func:`quantile_fold_sink` does)."""
    existing = set(value_histogram_segments(spark, path))
    if segment is None:
        i = len(existing)
        while f"seg-{i}" in existing:
            i += 1
        segment = f"seg-{i}"
    elif segment in existing:
        raise ValueError(f"segment {segment!r} already exists")
    _value_counts(batch, key_col, val_col).withColumn(
        "segment", F.lit(segment)
    ).write.mode("append").parquet(f"{path}/counts")
    return segment


def remove_value_histogram(spark: SparkSession, path: str, segment: str) -> None:
    """RETRACT one segment: delete its rows — exact integer removal, no
    subtraction; merge-then-remove == never-merged bit for bit."""
    if segment not in set(value_histogram_segments(spark, path)):
        raise ValueError(f"unknown segment {segment!r}")
    remaining = read_parquet(spark, f"{path}/counts").filter(
        F.col("segment") != segment
    )
    # parquet overwrite would delete the input mid-plan; stage first
    remaining.localCheckpoint(eager=True).write.mode("overwrite").parquet(
        f"{path}/counts"
    )


def read_value_histogram(spark: SparkSession, path: str) -> DataFrame:
    """The merged ``(key, value, c)`` view (segments summed out)."""
    return (
        read_parquet(spark, f"{path}/counts")
        .groupBy("key", "value")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )


def sla_report(
    spark: SparkSession, path: str, ps: Sequence[float] = (0.5, 0.9)
) -> DataFrame:
    """q186's SLA report from the persisted state alone — per key:
    ``n``, exact ``mean_value`` (Σ value·c is exact int64; ONE closing
    division), ``min_value``/``max_value``, and exact percentile-disc
    order statistics ``p<int(p·100)>`` (⌈p·n⌉ rule). Equals the batch
    q186 on the same data BY CONSTRUCTION (same integers, same single
    division, same rank rule — pinned in ``test_quantiles.py``).

    Scale: the cumulative window runs over the per-key DISTINCT value
    domain — bounded by the domain (q186's calendar argument), never the
    row count. Int64 capacity: Σ value·c must stay under 2⁶³ (day lags:
    ~10¹⁴ at 100 TB — comfortable; see q187's note for the DECIMAL
    escape hatch on wider domains).
    """
    h = read_value_histogram(spark, path)
    w_cum = (
        Window.partitionBy("key")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("key")
    cum = h.select(
        "key",
        "value",
        F.sum("c").over(w_cum).alias("cm"),
        F.sum("c").over(w_all).alias("n"),
    )
    s = h.groupBy("key").agg(
        F.sum("c").cast("bigint").alias("n"),
        (
            F.sum(F.col("value") * F.col("c")).cast("double")
            / F.sum("c").cast("double")
        ).alias("mean_value"),
        F.min("value").cast("bigint").alias("min_value"),
        F.max("value").cast("bigint").alias("max_value"),
    )
    p_aggs = [
        F.min(
            F.when(
                F.col("cm") >= F.ceil(F.lit(float(p)) * F.col("n")),
                F.col("value"),
            )
        )
        .cast("bigint")
        .alias(f"p{int(round(p * 100)):02d}")
        for p in ps
    ]
    p_tbl = cum.groupBy("key").agg(*p_aggs)
    return s.join(F.broadcast(p_tbl), "key")


def quantile_fold_sink(
    path: str, key_col: str, val_col: str
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function folding each micro-batch into the
    persisted value histogram under ``segment = "batch-<id>"`` —
    EXACTLY-ONCE on at-least-once replay because the segment id IS the
    micro-batch id: a replayed batch finds its segment already present
    and no-ops (the ``sinks/foreach_batch.py`` idempotence pattern, with
    the segment table as the ledger). Admission control (source rate
    caps) and any watermarking belong to the source/query the caller
    wires this into — the fold itself is order-insensitive (counts are
    additive), so late or re-ordered batches fold correctly regardless.
    Per-batch cost: one O(batch) aggregate + an O(segments) id probe."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        seg = f"batch-{batch_id}"
        if seg in set(value_histogram_segments(spark, path)):
            return  # replay — already folded
        merge_value_histogram(spark, path, batch_df, key_col, val_col, seg)

    return fold


# ---------------------------------------------------------------------------
# Tier 2 — frozen-edge equi-depth sketch (continuous domains; bounded reads)
# ---------------------------------------------------------------------------


def _bucket_of(col, cuts: Sequence[float]):
    """Bucket id under frozen interior cuts: #cuts ≤ v, as a codegen'd
    comparison chain (cuts are bounded — ≤ n_buckets−1 literals — so the
    plan stays whole-stage-codegen; no Python in the hot path)."""
    b = F.lit(0).cast("bigint")
    for cut in cuts:
        b = b + (col >= F.lit(float(cut))).cast("bigint")
    return b


def build_equidepth_sketch(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    val_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
    accuracy: int = DEFAULT_ACCURACY,
) -> None:
    """Freeze the quantizer: interior cut points from
    ``percentile_approx`` at build time (deduplicated — heavy point
    masses collapse neighboring cuts, shrinking the bucket count rather
    than producing empty degenerate buckets), then write the build
    data's per-bucket (count, max) partials under segment ``'build'``.
    Edges are never rewritten — retrain = rebuild, the
    ``scalardrift`` contract."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    row = (
        df.select(F.col(val_col).cast("double").alias("_v"))
        .filter(F.col("_v").isNotNull())
        .agg(F.percentile_approx("_v", qs, accuracy).alias("cuts"))
        .collect()[0]  # one row of ≤ n_buckets−1 doubles — bounded
    )
    cuts = sorted(set(row["cuts"] or []))
    spark.createDataFrame(
        [(i, float(c)) for i, c in enumerate(cuts)], "i bigint, cut double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/edges")
    _equidepth_counts(df, val_col, cuts).withColumn(
        "segment", F.lit("build")
    ).write.mode("overwrite").parquet(f"{path}/counts")


def _read_cuts(spark: SparkSession, path: str) -> list:
    return [
        r["cut"]
        for r in read_parquet(spark, f"{path}/edges").orderBy("i").collect()
    ]  # bounded: ≤ n_buckets−1 rows


def _equidepth_counts(df: DataFrame, val_col: str, cuts: Sequence[float]) -> DataFrame:
    v = df.select(F.col(val_col).cast("double").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    return (
        v.select(_bucket_of(F.col("_v"), cuts).alias("bucket"), "_v")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("_v").alias("vmax"),
        )
    )


equidepth_segments = value_histogram_segments


def merge_equidepth_sketch(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    val_col: str,
    segment: Optional[str] = None,
) -> str:
    """Fold a batch under the FROZEN edges — counts add, maxes max, both
    exact under any merge order, so merge == rebuild-under-same-edges
    exactly. O(batch) + one ≤buckets-row append."""
    existing = set(equidepth_segments(spark, path))
    if segment is None:
        i = len(existing)
        while f"seg-{i}" in existing:
            i += 1
        segment = f"seg-{i}"
    elif segment in existing:
        raise ValueError(f"segment {segment!r} already exists")
    cuts = _read_cuts(spark, path)
    _equidepth_counts(batch, val_col, cuts).withColumn(
        "segment", F.lit(segment)
    ).write.mode("append").parquet(f"{path}/counts")
    return segment


def remove_equidepth_sketch(spark: SparkSession, path: str, segment: str) -> None:
    """RETRACT one segment. Counts are exact removals; the merged vmax
    legitimately SHRINKS back if the removed batch held a bucket's
    maximum (max-of-remaining, not max-ever — that is why vmax is stored
    per segment, not folded in place). Same retraction as
    ``remove_value_histogram``: both keep their segments in ``counts``."""
    remove_value_histogram(spark, path, segment)


def equidepth_percentiles(
    spark: SparkSession, path: str, ps: Sequence[float] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Rank-error-bounded percentile reads from the merged sketch: per
    requested p — the covering bucket's observed max value as the
    estimate, plus the EXACT bracket ``(rank_lo, rank_hi]`` the
    estimate's true rank lies in and ``err_bound = bucket_n / n`` (the
    worst-case |true rank of estimate − ⌈p·n⌉| / n, since both live in
    the same bracket). The bound is computed from OBSERVED occupancy, so
    it stays valid however post-merge drift skews the frozen buckets.
    Cost: one ≤buckets-row fold (single-partition by construction)."""
    b = (
        read_parquet(spark, f"{path}/counts")
        .groupBy("bucket")
        .agg(F.sum("n").cast("bigint").alias("n"), F.max("vmax").alias("vmax"))
    )
    w_cum = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = b.select(
        "bucket",
        "n",
        "vmax",
        F.sum("n").over(w_cum).alias("cm"),
        F.sum("n").over(Window.partitionBy()).alias("nt"),
    )
    grid = F.broadcast(
        cum.sparkSession.createDataFrame(
            [(float(p),) for p in ps], "p double"
        )
    )
    hit = (
        grid.join(
            cum, F.col("cm") >= F.ceil(F.col("p") * F.col("nt")), "left"
        )
        .groupBy("p")
        .agg(
            F.min_by("vmax", "bucket").alias("value_est"),
            (F.min_by("cm", "bucket") - F.min_by("n", "bucket"))
            .cast("bigint")
            .alias("rank_lo"),
            F.min_by("cm", "bucket").cast("bigint").alias("rank_hi"),
            (
                F.min_by("n", "bucket").cast("double")
                / F.min("nt").cast("double")
            ).alias("err_bound"),
        )
    )
    return hit.orderBy("p")
