"""Exact-aggregation helpers for oracle-matched float math.

Problem: ``sum(double)`` is order-dependent — Spark sums per-partition then
merges, DuckDB sums in its own order, so the last few bits differ and an
exact value-hash comparison fails. Rounding after the fact is unsafe (the
accumulated error can exceed any fixed rounding grid near a boundary).

Fix: scaled-integer accumulation. For the money-like TPC-H columns (≤2
decimal digits), every aggregated expression — including 3-factor products
like price×(1−discount)×(1+tax) — is an exact multiple of 10⁻⁶, so
``round(x·10⁶)`` recovers the exact scaled integer and the sum is EXACT.
For arbitrary-precision doubles (e.g. ``events.value``) the same scheme is
still cross-engine DETERMINISTIC (the weaker property the oracle gate
needs): the ·10⁶ multiply yields the same IEEE double on both engines, and
both Spark (BigDecimal HALF_UP on the shortest decimal repr) and DuckDB
(ties away from zero) round any representable tie identically — non-ties
round identically under any mode. int64 sums are associative and
engine-independent; the final ``cast(sum as double)/10⁶`` is deterministic
on both sides.

Why not DECIMAL? Tried both:

* DECIMAL(25,6) is bit-exact but Spark's sum buffer (precision+10 > 18
  digits) falls off the long-backed codegen path onto per-row JVM
  BigDecimal — measured 2.5× slower than the scaled-int sum;
* DECIMAL(8,2) is long-backed and fast, but rounds products to 2 decimals,
  and products land EXACTLY on .xx5 boundaries for ~0.3% of rows, where
  Spark (half-up on the exact decimal expansion) and DuckDB (half-even on
  the scaled double) disagree.

Capacity: scaled sums hold to ~9.2·10¹⁸, i.e. ~10¹² rows of 10⁴-magnitude
values; ANSI mode fails loudly on overflow, never silently wraps. At
extreme scale, pre-aggregate per partition or fall back to DECIMAL(27,6)
and pay the BigDecimal cost.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Fixed-point scale: 10^6 covers products of three 2-decimal factors.
SCALE = 1_000_000


def scaled(col: Column) -> Column:
    """The exact 10⁶-scaled integer of a ≤6-decimal double (for composing
    window sums: ``F.sum(scaled(c)).over(w)`` then :func:`unscale`)."""
    return F.round(col * SCALE, 0).cast("bigint")


def unscale(col: Column) -> Column:
    """Scaled-integer sum → double."""
    return col.cast("double") / F.lit(float(SCALE))


def dsum(col: Column) -> Column:
    """Order-independent sum of a ≤6-decimal double column, as double."""
    return unscale(F.sum(scaled(col)))


def epoch_seconds(col: Column) -> Column:
    """Whole-second epoch (floor) of a timestamp, NTZ-safe.

    ``events.ts`` surfaces as TIMESTAMP or TIMESTAMP_NTZ depending on how
    the parquet physical type was written (nanos vs NTZ micros), and Spark
    forbids a direct NTZ→BIGINT cast. Casting through TIMESTAMP first works
    for both; the session-timezone offset an NTZ reinterpretation may add is
    whole minutes, so *differences* of two epoch_seconds are timezone-free
    and match DuckDB's ``date_diff('second', a, b)`` boundary-crossing count
    exactly (both are floor(epoch) arithmetic).

    Only use this in differences or modular bucketing with minute-aligned
    grids — never compare a lone epoch_seconds value against an oracle
    constant, since the absolute value is timezone-dependent on NTZ input.
    """
    return col.cast("timestamp").cast("long")


def sql_dsum(expr: str) -> str:
    """DuckDB twin of :func:`dsum` for an SQL expression string."""
    return (
        f"CAST(SUM(CAST(ROUND(({expr}) * {SCALE}.0, 0) AS BIGINT)) AS DOUBLE)"
        f" / {SCALE}.0"
    )


def dround(col: Column, scale: int = 6) -> Column:
    """Engine-portable round-half-up for arbitrary-precision doubles:
    ``floor(x·10^s + 0.5) / 10^s`` — pure IEEE ops, so both engines
    round the same BINARY value identically. Plain ``ROUND`` diverges
    here: Spark rounds the shortest DECIMAL representation (BigDecimal)
    while DuckDB rounds the binary double, and values whose shortest
    representation sits on the .5 boundary flip between them (observed
    at sf0.1 on ratio/interpolation outputs; ``scaled()`` inputs are
    immune because the ≤6-decimal contract keeps them off boundaries).
    For non-negative inputs this is exactly HALF_UP; negative halves
    round toward +inf — use only where the sign is fixed or the
    convention is acceptable on both sides.
    """
    f = float(10**scale)
    return F.floor(col * f + F.lit(0.5)) / F.lit(f)


def sql_dround(expr: str, scale: int = 6) -> str:
    """DuckDB twin of :func:`dround`."""
    f = float(10**scale)
    return f"FLOOR(({expr}) * {f} + 0.5) / {f}"
