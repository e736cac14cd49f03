"""Distributed Bloom filter: build a bit-set from a key column as a tiny
word table, broadcast it, and test membership map-side — the prefilter
that turns a corpus-sized decontamination shuffle into a candidate-sized
one.

Shape at 100 TB: the filter is ``m/64`` int64 rows regardless of input
size (m = 2^18 bits → 4096 rows ≈ 32 KB), built with one hash-keyed
``bit_or`` aggregate that combines map-side, so 1000 executors fold their
partial word tables with no coordination. Probing is ``k`` BROADCAST hash
joins — a narrow, shuffle-free scan — and keeps only rows whose ``k`` bits
are all set. Bloom guarantees NO false negatives, so downstream exact
verification of the (rare) positives preserves exact semantics; the
false-positive rate is ``(1 − e^(−k·n/m))^k`` and is pinned by a pytest
bound, not trusted.

Used by q139 (bloom-prefiltered decontamination, ``queries/text.py``):
same final answer as the exact DISTINCT-shingle semi join (the oracle),
but the string shuffle only ever carries bloom-positive shingles.

Public technique: Bloom (1970), CACM 13(7); the broadcast-probe layout is
the runtime-filter pattern of every distributed SQL engine.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.parquet import read_parquet

#: Default geometry: 2^18 bits = 4096 int64 words ≈ 32 KB broadcast.
#: At n = 30k distinct keys (sf0.1 val-split shingles), k=3 →
#: FP ≈ (1 − e^(−0.34))^3 ≈ 2.4%.
DEFAULT_M_BITS = 1 << 18
DEFAULT_K = 3


def _bitpos(col: Column, seed: int, m_bits: int) -> Column:
    """Bit position of hash ``seed`` for a key: xxhash64 salted by the
    hash index, folded onto [0, m_bits)."""
    return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(m_bits))


def build_bloom(
    df: DataFrame, col: str, m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K
) -> DataFrame:
    """Fold a key column into a Bloom word table ``(word: bigint,
    wbits: bigint)`` of at most ``m_bits/64`` rows.

    One explode (k rows per key) + one ``bit_or`` aggregate — map-side
    combined, output size independent of ``df``'s row count.
    """
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    if not 1 <= k <= 16:
        raise ValueError(f"k must be in [1, 16], got {k}")
    bits = df.select(
        F.explode(
            F.array(*[_bitpos(F.col(col), i, m_bits) for i in range(k)])
        ).alias("bitpos")
    )
    return (
        bits.select(
            F.expr("bitpos div 64").alias("word"),
            F.pmod(F.col("bitpos"), F.lit(64)).cast("int").alias("bit"),
        )
        .groupBy("word")
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("wbits")
        )
    )


def bloom_maybe_contains(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Rows of ``df`` whose ``col`` MAY be in the set the bloom was built
    from (superset of the true members — no false negatives).

    ``k`` broadcast left joins on the word id + a bit test each; the probe
    side never shuffles. Internal ``_w*``/``_b*`` columns are dropped.

    GEOMETRY CONTRACT: ``m_bits``/``k`` must equal the values the bloom
    was built with — a mismatch silently breaks the no-false-negative
    guarantee. This bare pair is for single-plan use (build and probe in
    one job, as q139 does); decoupled build/probe MUST go through
    :func:`build_bloom_index` / :func:`query_bloom_index`, which persist
    the geometry in a sidecar and refuse a mismatched probe.
    """
    cur = df
    keep = F.lit(True)
    for i in range(k):
        pos = _bitpos(F.col(col), i, m_bits)
        w = bloom.select(
            F.col("word").alias(f"_w{i}"), F.col("wbits").alias(f"_b{i}")
        )
        cur = (
            cur.withColumn(f"_w{i}", F.floor(pos / F.lit(64)).cast("bigint"))
            .withColumn(f"_m{i}", F.pmod(pos, F.lit(64)).cast("int"))
            .join(F.broadcast(w), f"_w{i}", "left")
        )
        keep = keep & (
            F.col(f"_b{i}").isNotNull()
            & (
                F.col(f"_b{i}").bitwiseAND(
                    F.expr(f"shiftleft(CAST(1 AS BIGINT), _m{i})")
                )
                != 0
            )
        )
    drop = [c for i in range(k) for c in (f"_w{i}", f"_b{i}", f"_m{i}")]
    return cur.filter(keep).drop(*drop)


# ---------------------------------------------------------------------------
# Persisted index (geometry travels WITH the word table)
# ---------------------------------------------------------------------------
#
# The bare build_bloom/bloom_maybe_contains pair leaves the geometry
# contract caller-owned; when builds and probes are decoupled (a nightly
# build, a per-batch probe) that contract must be persisted or a drifted
# m_bits/k silently breaks the no-false-negative guarantee. Same
# convention as build_bm25_index / build_pq_index: parameters live in a
# one-row sidecar next to the data and probes refuse a mismatch.


def build_bloom_index(
    df: DataFrame,
    col: str,
    path: str,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> None:
    """Materialize the word table at ``path/words`` plus a one-row
    ``(m_bits, k)`` geometry sidecar at ``path/geometry``."""
    build_bloom(df, col, m_bits, k).write.mode("overwrite").parquet(f"{path}/words")
    df.sparkSession.createDataFrame(
        [(m_bits, k)], "m_bits bigint, k int"
    ).write.mode("overwrite").parquet(f"{path}/geometry")


def load_bloom_geometry(spark: SparkSession, path: str) -> Tuple[int, int]:
    """Read the persisted ``(m_bits, k)`` — one row, driver metadata only."""
    rows = read_parquet(spark, f"{path}/geometry").collect()
    if len(rows) != 1:
        raise ValueError(f"corrupt bloom geometry sidecar at {path}: {len(rows)} rows")
    return int(rows[0]["m_bits"]), int(rows[0]["k"])


def append_bloom_index(new_df: DataFrame, col: str, path: str) -> None:
    """Fold a new key batch into the persisted filter — O(filter + batch):
    the batch's word table is bit_or-merged with the existing ≤ m/64 rows
    (a Bloom filter union IS the bitwise OR of the word tables). Geometry
    comes from the sidecar, so an append can never drift it."""
    spark = new_df.sparkSession
    m_bits, k = load_bloom_geometry(spark, path)
    old = read_parquet(spark, f"{path}/words")
    merged = (
        old.unionByName(build_bloom(new_df, col, m_bits, k))
        .groupBy("word")
        .agg(F.expr("bit_or(wbits)").alias("wbits"))
    )
    # words is ≤ m/64 rows (~4096): localCheckpoint breaks the
    # read-then-overwrite cycle without a corpus-sized materialization.
    merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(
        f"{path}/words"
    )


def query_bloom_index(
    df: DataFrame,
    col: str,
    path: str,
    m_bits: Optional[int] = None,
    k: Optional[int] = None,
) -> DataFrame:
    """Probe the persisted filter with the PERSISTED geometry. Passing
    ``m_bits``/``k`` explicitly is allowed only as an assertion — a
    mismatch with the sidecar raises instead of silently probing with
    wrong bit positions (which would break no-false-negatives)."""
    spark = df.sparkSession
    gm, gk = load_bloom_geometry(spark, path)
    if m_bits is not None and m_bits != gm:
        raise ValueError(
            f"bloom geometry mismatch: index at {path} was built with "
            f"m_bits={gm}, probe requested m_bits={m_bits}"
        )
    if k is not None and k != gk:
        raise ValueError(
            f"bloom geometry mismatch: index at {path} was built with "
            f"k={gk}, probe requested k={k}"
        )
    words = read_parquet(spark, f"{path}/words")
    return bloom_maybe_contains(df, col, words, gm, gk)
