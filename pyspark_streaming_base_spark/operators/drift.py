"""Quantizer drift monitoring — the "when to retrain" half of the
frozen-quantizer contract.

Every persisted vector index in this repo freezes its quantizer at build
time and appends new batches under it (``operators/ivf.py``,
``operators/pq.py``, ``operators/semdedup.py`` — the add()-after-train()
contract), with the caveat "retrain + rebuild when the distribution
drifts". This operator turns that caveat into a measured number, the way
production ANN deployments do: compare a new batch's quantization
quality against the build-time baseline.

Two signals, both cheap and both computed with the index's own frozen
centroids (one broadcast assign of the batch — no corpus access):

* **quantization-error ratio** — mean squared distance to the nearest
  centroid, batch vs baseline. A shifted or scaled embedding
  distribution lands farther from every frozen centroid, so the ratio
  climbs above 1;
* **occupancy shift** — L1 distance between the per-cell assignment
  fractions (½·Σ|p_batch − p_base|, the total-variation distance). A
  distribution that rotated toward a subspace keeps its error low but
  piles into few cells — the failure mode the error ratio alone misses
  (and vice versa: a uniform inflation keeps occupancy flat while the
  error ratio climbs).

Baselines are per-cell (segment, cid, n, sum_d2) partials — mergeable
AND retractable: each accepted batch appends its partials under its own
SEGMENT id (an O(batch) append, no read-modify-write), reports aggregate
over segments at read time, and a poisoned batch's contribution is
removed by deleting its segment's ROWS (``remove_drift_baseline``) —
exact by construction, with no floating-point subtraction to drift
(merge-then-remove leaves literally the same rows as never-merged). The
oracle-checked q131 (``queries/similarity.py``) pins the same per-cell
statistics against DuckDB with exact cross-engine math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.operators.semdedup import assign_to_centroids
from pyspark_streaming_base_spark.parquet import read_parquet

__all__ = [
    "write_drift_baseline",
    "drift_report",
    "merge_drift_baseline",
    "remove_drift_baseline",
    "drift_segments",
]


def _centroids(spark: SparkSession, path: str) -> DataFrame:
    """The index's frozen centroids as (cid, cv) — normalizing the two
    on-disk conventions so ONE monitor serves every vector index family:
    ``build_semdedup_index`` writes (cid, cv); ``build_ivf_index`` /
    ``build_pq_index`` write (cent_id, cvec). The monitor's statistic is
    its own L2 assignment under those centroids — consistent across
    baseline and batch, which is what a drift SIGNAL needs (for the
    cosine-assigned IVF index the monitor's cells are not the index's
    cells; the error ratio and occupancy shift remain valid drift
    statistics because both sides use the same rule)."""
    c = read_parquet(spark, f"{path}/centroids")
    if "cent_id" in c.columns:
        c = c.select(F.col("cent_id").alias("cid"), F.col("cvec").alias("cv"))
    return c


def _cell_stats(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(cid, n, sum_d2) under the frozen centroids — one broadcast
    assign + a map-side-combinable aggregate."""
    return (
        assign_to_centroids(emb, centroids)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("d2").alias("sum_d2"),
        )
    )


def write_drift_baseline(
    spark: SparkSession, path: str, emb: DataFrame, segment: str = "build"
) -> None:
    """Materialize the build-time quantization baseline for the index at
    ``path`` (any index with a ``<path>/centroids`` (cid, cv) table —
    the ``build_semdedup_index`` convention): per-cell (segment, cid, n,
    sum_d2) partials → ``<path>/drift_baseline``. Call once at build
    time with the same corpus the index was built on."""
    cent = _centroids(spark, path)
    _cell_stats(emb, cent).withColumn("segment", F.lit(segment)).write.mode(
        "overwrite"
    ).parquet(f"{path}/drift_baseline")


def _read_baseline(spark: SparkSession, path: str) -> DataFrame:
    """The segmented baseline table; pre-segment legacy tables (no
    ``segment`` column) read as one 'build' segment."""
    b = read_parquet(spark, f"{path}/drift_baseline")
    if "segment" not in b.columns:
        b = b.withColumn("segment", F.lit("build"))
    return b


def drift_segments(spark: SparkSession, path: str) -> list:
    """The baseline's segment ids, sorted — what
    :func:`remove_drift_baseline` can retract."""
    return sorted(
        r["segment"]
        for r in _read_baseline(spark, path).select("segment").distinct().collect()
    )


def _normalize_legacy(spark: SparkSession, path: str) -> None:
    """One-time upgrade of a pre-segment baseline file so appends can't
    create a mixed-schema directory (readers would resolve the schema
    from an arbitrary file and silently drop the segment column)."""
    b = read_parquet(spark, f"{path}/drift_baseline")
    if "segment" not in b.columns:
        b.withColumn("segment", F.lit("build")).localCheckpoint(
            eager=True
        ).write.mode("overwrite").parquet(f"{path}/drift_baseline")


def merge_drift_baseline(
    spark: SparkSession, path: str, new_emb: DataFrame, segment: str = None
) -> str:
    """Fold an ACCEPTED batch into the baseline (call after the batch
    passed :func:`drift_report` and was appended to the index): the
    batch's per-cell partials APPEND under their own segment id —
    O(batch), no read-modify-write — so the baseline tracks the corpus
    the index actually holds AND every batch stays individually
    retractable (:func:`remove_drift_baseline`). Returns the segment id
    (auto-assigned ``seg-<i>`` when not supplied); supplying an existing
    id raises — segments are the retraction unit, so they must not
    blur together."""
    _normalize_legacy(spark, path)
    existing = set(drift_segments(spark, path))
    if segment is None:
        i = len(existing)
        while f"seg-{i}" in existing:
            i += 1
        segment = f"seg-{i}"
    elif segment in existing:
        raise ValueError(f"segment {segment!r} already exists in the baseline")
    cent = _centroids(spark, path)
    _cell_stats(new_emb, cent).withColumn("segment", F.lit(segment)).write.mode(
        "append"
    ).parquet(f"{path}/drift_baseline")
    return segment


def remove_drift_baseline(spark: SparkSession, path: str, segment: str) -> None:
    """RETRACT one segment's contribution (a poisoned or takedown batch):
    delete its rows. Exact by construction — no floating-point
    subtraction, so merge-then-remove leaves the baseline bit-identical
    to never-merged. Unknown segments raise (silently 'removing' nothing
    is the wrong failure mode for a retraction path, the
    ``read_tombstones`` rule)."""
    base = _read_baseline(spark, path)
    if segment not in set(drift_segments(spark, path)):
        raise ValueError(f"unknown baseline segment {segment!r}")
    remaining = base.filter(F.col("segment") != segment)
    # parquet overwrite would delete the input mid-plan; stage through
    # a local checkpoint (segments × cells × 4 columns — tiny)
    remaining.localCheckpoint(eager=True).write.mode("overwrite").parquet(
        f"{path}/drift_baseline"
    )


def drift_report(
    spark: SparkSession,
    path: str,
    new_emb: DataFrame,
    error_ratio_threshold: float = 2.0,
    occupancy_l1_threshold: float = 0.5,
) -> DataFrame:
    """ONE-row drift report for a batch against the stored baseline:

    ``(n_base, n_batch, base_mean_d2, batch_mean_d2, error_ratio,
    occupancy_l1, drifted)`` — ``drifted`` is true when either signal
    crosses its threshold. Cost: one broadcast assign of the BATCH plus
    a cells-sized join; the corpus is never read.
    """
    if error_ratio_threshold <= 0 or not 0 < occupancy_l1_threshold <= 1:
        raise ValueError(
            "error_ratio_threshold must be > 0 and occupancy_l1_threshold "
            f"in (0, 1], got {error_ratio_threshold}, {occupancy_l1_threshold}"
        )
    cent = _centroids(spark, path)
    base = (
        _read_baseline(spark, path)
        .groupBy("cid")
        .agg(
            F.sum("n").cast("bigint").alias("n0"),
            F.sum("sum_d2").alias("s0"),
        )
    )
    batch = _cell_stats(new_emb, cent).select(
        "cid", F.col("n").alias("n1"), F.col("sum_d2").alias("s1")
    )
    cells = base.join(batch, "cid", "full").fillna(
        0, subset=["n0", "n1"]
    ).fillna(0.0, subset=["s0", "s1"])
    # occupancy L1 needs the totals per side before the per-cell |Δp|
    # fold — two tiny aggregates over the cells table
    totals = cells.agg(
        F.sum("n0").alias("t0"), F.sum("n1").alias("t1")
    )
    occ = (
        cells.crossJoin(F.broadcast(totals))
        .select(
            # try_divide: an empty side (t=0) yields null fractions, not
            # an ANSI divide-by-zero crash — the report stays total
            F.abs(
                F.try_divide(F.col("n1"), F.col("t1"))
                - F.try_divide(F.col("n0"), F.col("t0"))
            ).alias("dp")
        )
        .agg((0.5 * F.sum("dp")).alias("occupancy_l1"))
    )
    summary = (
        cells.agg(
            F.sum("n0").cast("bigint").alias("n_base"),
            F.sum("n1").cast("bigint").alias("n_batch"),
            F.try_divide(F.sum("s0"), F.sum("n0")).alias("base_mean_d2"),
            F.try_divide(F.sum("s1"), F.sum("n1")).alias("batch_mean_d2"),
        )
        .crossJoin(F.broadcast(occ))
    )
    return summary.select(
        "n_base",
        "n_batch",
        "base_mean_d2",
        "batch_mean_d2",
        F.try_divide(F.col("batch_mean_d2"), F.col("base_mean_d2")).alias(
            "error_ratio"
        ),
        "occupancy_l1",
        # an EMPTY batch carries no evidence of drift: the means/ratio go
        # null (0/0) and a null flag would read as "unknown" — pin False
        F.coalesce(
            (
                F.try_divide(F.col("batch_mean_d2"), F.col("base_mean_d2"))
                > F.lit(error_ratio_threshold)
            )
            | (F.col("occupancy_l1") > F.lit(occupancy_l1_threshold)),
            F.lit(False),
        ).alias("drifted"),
    )
