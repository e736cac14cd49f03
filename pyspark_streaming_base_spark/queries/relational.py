"""Relational operator coverage (SURVEY.md §2B, §2C C1–C16, C19 partial).

Each query exercises one operator family over the driver's synthetic
TPC-H-ish tables, declaratively (DataFrame API) so Catalyst plans
pushdown/pruning/joins. Scale notes are per-query docstrings.

Cross-engine determinism conventions (see ``_exact.py``):

* double SUM/AVG → exact DECIMAL accumulation, cast back to double;
* computed integer columns cast to bigint on both sides (Spark's
  ``count``/``sum(int)`` are long; DuckDB's ``sum(int)`` is HUGEINT and
  ``length`` is bigint — explicit casts align the schemas);
* LIMIT / top-k always tie-breaks on a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.operators.spread import spread
from pyspark_streaming_base_spark.queries import query
from pyspark_streaming_base_spark.queries._exact import (
    dround,
    dsum,
    scaled,
    sql_dround,
    sql_dsum,
    unscale,
)
from pyspark_streaming_base_spark.queries._tables import dim, t


# ---------------------------------------------------------------------------
# C1/C2/C6/C14 — flagship: filter + groupBy + multi-aggregate (TPC-H Q1 style)
# ---------------------------------------------------------------------------

@query(
    "q01_pricing_summary",
    oracle="""
    SELECT
      l_returnflag, l_linestatus,
      {sum_qty} AS sum_qty,
      {sum_base} AS sum_base_price,
      {sum_disc} AS sum_disc_price,
      {sum_charge} AS sum_charge,
      {sum_qty} / COUNT(l_quantity) AS avg_qty,
      {sum_base} / COUNT(l_extendedprice) AS avg_price,
      {sum_disc_col} / COUNT(l_discount) AS avg_disc,
      CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """.format(
        sum_qty=sql_dsum("l_quantity"),
        sum_base=sql_dsum("l_extendedprice"),
        sum_disc=sql_dsum("l_extendedprice * (1 - l_discount)"),
        sum_charge=sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)"),
        sum_disc_col=sql_dsum("l_discount"),
    ),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary (C1 filter, C2 projection, C6 agg,
    C14 arithmetic).

    Scale: single scan of the fact table; the shipdate filter and the 7-column
    projection push into the parquet scan; partial aggregation happens
    map-side so the shuffle carries only (flag, status) groups — O(groups),
    not O(rows), across the wire at 100 TB.
    """
    # r13 (guide §2.5 input skew): the fixture fact table is one parquet
    # row group, so scan + the 8-aggregate partial evaluation ran in ONE
    # task; spread() moves the aggregate work off the serial scan task
    # and is a no-op at corpus scale (see operators/spread.py). Key on
    # l_shipdate — a column Q1 already reads for the filter — so the
    # spread forces no extra column through scan+exchange (the original
    # l_orderkey key un-pruned an 8-byte column Q1 never references;
    # caught by test_agg_reads_only_needed_columns).
    li = spread(t(spark, sf_dir, "lineitem"), "l_shipdate")
    f = li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return f.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        dsum(disc_price).alias("sum_disc_price"),
        dsum(charge).alias("sum_charge"),
        (dsum(F.col("l_quantity")) / F.count("l_quantity")).alias("avg_qty"),
        (dsum(F.col("l_extendedprice")) / F.count("l_extendedprice")).alias("avg_price"),
        (dsum(F.col("l_discount")) / F.count("l_discount")).alias("avg_disc"),
        F.count(F.lit(1)).cast("bigint").alias("count_order"),
    )


# ---------------------------------------------------------------------------
# C1 — predicate pushdown
# ---------------------------------------------------------------------------

@query(
    "q02_filter_pushdown",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-07-01'
      AND l_quantity < 5
    """,
)
def q02_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective filter + narrow projection (C1).

    Scale: both predicates and the 4-column projection reach the parquet
    reader (``PushedFilters`` + ``ReadSchema`` in the physical plan) —
    row-group statistics skip most of a 100 TB table before any CPU is spent.
    """
    return (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
            & (F.col("l_quantity") < 5)
        )
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    )


# ---------------------------------------------------------------------------
# C2/C14 — derived projection, per-row arithmetic (bit-exact double ops)
# ---------------------------------------------------------------------------

@query(
    "q03_derived_projection",
    oracle="""
    SELECT
      l_orderkey, l_linenumber,
      l_extendedprice * (1 - l_discount) AS net_price,
      l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
      ABS(l_extendedprice - l_quantity * 1000.0) AS price_dev,
      CAST(FLOOR(l_quantity / 10.0) AS BIGINT) AS qty_bucket
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
)
def q03_derived_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed columns (C2) with IEEE-exact double arithmetic (C14).

    Only +,-,*,/ and abs/floor are used per-row: those are exactly rounded
    in IEEE 754, so Spark and DuckDB agree bit-for-bit with no decimal
    detour. Narrow projection keeps the scan to 6 columns.
    """
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net.alias("net_price"),
        (net * (1 + F.col("l_tax"))).alias("charged"),
        F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000.0).alias("price_dev"),
        F.floor(F.col("l_quantity") / 10.0).cast("bigint").alias("qty_bucket"),
    )


# ---------------------------------------------------------------------------
# C3 — multi-way equi-join with broadcast dims (TPC-H Q5 style)
# ---------------------------------------------------------------------------

@query(
    "q04_revenue_by_nation",
    oracle="""
    SELECT n_name, {rev} AS revenue, CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name IN ('ASIA', 'EUROPE')
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """.format(rev=sql_dsum("l_extendedprice * (1 - l_discount)")),
)
def q04_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-way star join → revenue per nation (C3, TPC-H Q5 shape).

    Scale plan: lineitem⋈orders is the only big shuffle (both sides hashed
    on orderkey); supplier/nation/region are broadcast so the fact side
    never re-shuffles for them; customer⋈orders shuffles on custkey before
    joining the fact. The region filter is applied to the broadcast side
    *before* the join, shrinking the build hash table.
    """
    cu = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    s = dim(spark, sf_dir, "supplier")
    n = dim(spark, sf_dir, "nation")
    r = dim(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    joined = (
        cu.join(o, cu.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("n_name").agg(
        dsum(rev).alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# C4 — semi / anti joins
# ---------------------------------------------------------------------------

@query(
    "q05_semi_join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey IN (
      SELECT o_custkey FROM orders
      WHERE o_totalprice > 400000
    )
    """,
)
def q05_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one big order — left_semi join (C4).

    Scale: semi join keeps only the probe side's columns, so no row
    explosion; with AQE the filtered orders side can demote to a broadcast.
    """
    cu = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cu.join(big, cu.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q06_anti_join",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders WHERE o_totalprice > 470000
    )
    """,
)
def q06_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no very-large order — left_anti join (C4, NOT EXISTS
    shape; the data has no nulls in o_custkey so NOT IN ≡ NOT EXISTS)."""
    cu = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 470000)
    return cu.join(o, cu.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_acctbal"
    )


# ---------------------------------------------------------------------------
# C5 — theta join (equi prefix + inequality)
# ---------------------------------------------------------------------------

@query(
    "q07_theta_join",
    oracle="""
    SELECT n_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {d} AS bal_gap
    FROM supplier JOIN customer
      ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_nationkey
    """.format(d=sql_dsum("s_acctbal - c_acctbal")),
)
def q07_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier/customer pairs in the same nation where the supplier is
    richer — equi key + inequality predicate (C5).

    Scale: the equi part (nationkey) drives the shuffle/hash join; the
    inequality is a post-join filter, so this is NOT a cartesian product.
    Nationkey is low-cardinality (skew-prone) — AQE skew-join splits hot
    partitions at scale.
    """
    s = t(spark, sf_dir, "supplier")
    cu = t(spark, sf_dir, "customer")
    n = dim(spark, sf_dir, "nation")
    j = s.join(
        cu,
        (s.s_nationkey == cu.c_nationkey) & (s.s_acctbal > cu.c_acctbal),
    ).join(n, F.col("n_nationkey") == F.col("s_nationkey"))
    return j.groupBy("n_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        dsum(F.col("s_acctbal") - F.col("c_acctbal")).alias("bal_gap"),
    )


# ---------------------------------------------------------------------------
# C4/C13 — EXISTS with correlated date condition (TPC-H Q4 shape)
# ---------------------------------------------------------------------------

@query(
    "q08_late_ship_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q08_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose lineitems shipped >60 days after order date, counted by
    priority (C4 correlated EXISTS as semi join, C13 interval arithmetic)."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# C7 — distinct / count-distinct
# ---------------------------------------------------------------------------

@query(
    "q09_distinct",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, l_linenumber
    FROM lineitem
    """,
)
def q09_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a low-cardinality triple (C7).

    Scale: planned as a hash aggregate with map-side partial dedup — the
    shuffle carries unique triples only.
    """
    return t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_linenumber"
    ).distinct()


@query(
    "q10_count_distinct",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {b} AS total_bal
    FROM customer
    GROUP BY c_mktsegment
    """.format(b=sql_dsum("c_acctbal")),
)
def q10_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct alongside plain aggregates (C7).

    Scale: count-distinct expands to a two-phase aggregate; keeping the
    other aggregates in the same groupBy lets Catalyst share the shuffle.
    """
    return t(spark, sf_dir, "customer").groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").cast("bigint").alias("n_nations"),
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        dsum(F.col("c_acctbal")).alias("total_bal"),
    )


@query("q11_approx_count_distinct", oracle=None)  # sketch values are engine-specific
def q11_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (C7 approx).

    No oracle: HLL estimates are engine-specific (driver does a rows-only
    check). Scale: O(1) state per group vs O(distinct) for exact — the
    only viable distinct-count at 100 TB cardinalities.
    """
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
            F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        )
    )


# ---------------------------------------------------------------------------
# C8 — rollup / cube / grouping sets
# ---------------------------------------------------------------------------

@query(
    "q12_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           {q} AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """.format(q=sql_dsum("l_quantity")),
)
def q12_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals with grouping id (C8)."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n_rows")
    )


@query(
    "q13_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           {p} AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """.format(p=sql_dsum("o_totalprice")),
)
def q13_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions (C8).

    Scale: cube multiplies rows by 2^dims during aggregation — keep dims
    low-cardinality; Spark expands then partially aggregates map-side.
    """
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "sum_price", "n_orders")
    )


@query(
    "q38_unpivot",
    oracle="""
    SELECT p_partkey, metric, val
    FROM (
      SELECT p_partkey, 'retail' AS metric, p_retailprice AS val FROM part
      UNION ALL
      SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
      UNION ALL
      SELECT p_partkey, 'name_len', CAST(LENGTH(p_name) AS DOUBLE) FROM part
    )
    WHERE p_partkey <= 200
    """,
)
def q38_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (wide → long reshape): three per-part metrics become
    (key, metric, value) rows via ``DataFrame.unpivot`` — the built-in
    Expand-based form, one scan and zero shuffles, versus the 3× scan a
    UNION ALL rewrite (the oracle's formulation) costs.

    Values pass through unaggregated, so no float accumulation concerns.
    """
    p = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 200)
        .select(
            "p_partkey",
            F.col("p_retailprice").alias("retail"),
            F.col("p_size").cast("double").alias("size"),
            F.length("p_name").cast("double").alias("name_len"),
        )
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["retail", "size", "name_len"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@query(
    "q65_null_funcs",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(nullif(c_acctbal, 0.0)) AS BIGINT) AS n_nonzero,
           {s} AS adj_total,
           CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
    FROM (
      SELECT c_mktsegment, c_acctbal,
             COALESCE(nullif(c_acctbal, 0.0), -1.0) AS adj
      FROM customer
    )
    GROUP BY c_mktsegment
    """.format(s=sql_dsum("adj")),
)
def q65_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling function coverage (nullif / coalesce / conditional
    count): zero balances become NULL, NULLs backfill to a sentinel, and
    COUNT(expr) skips the NULLs — the exact semantics a cleaning pipeline
    leans on. Single scan, one narrow aggregation."""
    c = t(spark, sf_dir, "customer")
    adj = F.coalesce(F.nullif(F.col("c_acctbal"), F.lit(0.0)), F.lit(-1.0))
    return (
        c.select("c_mktsegment", "c_acctbal", adj.alias("adj"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count(F.nullif(F.col("c_acctbal"), F.lit(0.0)))
            .cast("bigint")
            .alias("n_nonzero"),
            dsum(F.col("adj")).alias("adj_total"),
            F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_negative"),
        )
    )


@query(
    "q66_interval_containment",
    oracle="""
    SELECT p.o_orderkey AS probe_key,
           CAST(COUNT(i.o_orderkey) AS BIGINT) AS n_covering
    FROM (SELECT * FROM orders WHERE o_orderkey % 100 = 0) p
    LEFT JOIN orders i
      ON i.o_orderpriority = p.o_orderpriority
     AND i.o_orderkey <> p.o_orderkey
     AND CAST(CAST(p.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           BETWEEN CAST(CAST(i.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AND CAST(CAST(i.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) + 30
    GROUP BY p.o_orderkey
    """,
)
def q66_interval_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment count via the banded range join (C5's pure
    range case): for each probe order, how many same-priority orders
    opened a 30-day window covering its date. The band equi-join
    (``operators/rangejoin.py``) replaces the nested loop the BETWEEN
    would otherwise plan; the oracle states the naive inequality join.

    LEFT-count semantics are reconstructed from the inner banded join by
    re-attaching zero-match probes (banding is inner-only by design).
    """
    from pyspark_streaming_base_spark.operators.rangejoin import banded_range_join

    o = t(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    probes = o.filter(F.col("o_orderkey") % 100 == 0).select(
        F.col("o_orderkey").alias("probe_key"),
        F.col("o_orderpriority").alias("p_prio"),
        days.cast("bigint").cast("double").alias("v"),
    )
    intervals = o.select(
        F.col("o_orderkey").alias("int_key"),
        F.col("o_orderpriority").alias("i_prio"),
        days.cast("bigint").cast("double").alias("lo"),
        (days.cast("bigint") + 30).cast("double").alias("hi"),
    )
    joined = banded_range_join(
        probes,
        intervals,
        value="v",
        lo="lo",
        hi="hi",
        band_width=31.0,
        extra_cond=(F.col("p_prio") == F.col("i_prio"))
        & (F.col("probe_key") != F.col("int_key")),
    )
    counts = joined.groupBy("probe_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_covering")
    )
    return (
        probes.select("probe_key")
        .join(counts, "probe_key", "left")
        .select(
            "probe_key",
            F.coalesce(F.col("n_covering"), F.lit(0)).cast("bigint").alias("n_covering"),
        )
    )


@query(
    "q39_histogram",
    oracle="""
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS bin_min,
           ROUND(MAX(o_totalprice), 2) AS bin_max
    FROM (
      SELECT o_totalprice,
             CAST(LEAST(FLOOR(o_totalprice / 25000.0), 19) AS BIGINT) AS bin
      FROM orders
    )
    GROUP BY bin
    """,
)
def q39_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (20 bins of 25k, top bin
    clamped): ``floor(x/w)`` binning is engine-portable (no width_bucket
    dialect differences) and exact — the division of a 2-decimal value by
    a power-of-ten-scaled constant and the floor both agree bit-for-bit.

    Scale: single scan, shuffle carries 20 groups — the degenerate-cheap
    aggregation shape; per-bin min/max come free in the same pass.
    """
    o = t(spark, sf_dir, "orders")
    bin_ = F.least(F.floor(F.col("o_totalprice") / 25000.0), F.lit(19)).cast("bigint")
    return (
        o.select("o_totalprice", bin_.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("bin_min"),
            F.round(F.max("o_totalprice"), 2).alias("bin_max"),
        )
    )


@query(
    "q35_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           {p} AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """.format(p=sql_dsum("o_totalprice")),
)
def q35_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (C8's general form): per-status, per-priority,
    and grand totals in one pass — the two rollup slices a dashboard wants
    without cube's full 2^dims expansion.

    Scale: Spark expands rows once per set then partially aggregates
    map-side, so the shuffle carries O(sets × groups), not O(sets × rows).
    """
    return (
        t(spark, sf_dir, "orders")
        .groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "sum_price", "n_orders")
    )


# ---------------------------------------------------------------------------
# C10 — global top-k (deterministic tie-break)
# ---------------------------------------------------------------------------

@query(
    "q14_global_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q14_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 orders by price (C10), ties broken on the unique key.

    Scale: Spark plans ``TakeOrderedAndProject`` — each partition keeps its
    local top-10 and only those reach the driver; no global sort of 100 TB.
    """
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# C11 — set operations
# ---------------------------------------------------------------------------

@query(
    "q15_set_ops",
    oracle="""
    WITH big_buyers AS (
      SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
    ),
    rich AS (
      SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
    ),
    machinery AS (
      SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    )
    SELECT custkey FROM (
      SELECT custkey FROM big_buyers
      INTERSECT
      SELECT custkey FROM rich
    )
    UNION
    SELECT custkey FROM (
      SELECT custkey FROM machinery
      EXCEPT
      SELECT custkey FROM rich
    )
    """,
)
def q15_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT composition (C11).

    Scale: set ops shuffle on the full row; projecting to the single key
    column first keeps shuffle width minimal.
    """
    o = t(spark, sf_dir, "orders")
    cu = t(spark, sf_dir, "customer")
    big_buyers = o.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    )
    rich = cu.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("custkey"))
    machinery = cu.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("custkey")
    )
    return big_buyers.intersect(rich).union(machinery.exceptAll(rich).distinct()).distinct()


# ---------------------------------------------------------------------------
# C12 — string functions
# ---------------------------------------------------------------------------

@query(
    "q16_string_funcs",
    oracle="""
    SELECT
      p_partkey,
      UPPER(p_brand) AS brand_u,
      LOWER(p_type) AS type_l,
      CAST(LENGTH(p_name) AS BIGINT) AS name_len,
      SUBSTRING(p_name, 1, 8) AS name_head,
      CONCAT_WS('#', p_brand, p_type) AS brand_type,
      REPLACE(p_type, ' ', '_') AS type_snake,
      TRIM(p_name) AS name_trim,
      regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num
    FROM part
    WHERE p_size >= 40
    """,
)
def q16_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function coverage: case, length, substring, concat, replace,
    trim, regex extraction (C12). All JVM-side built-ins — no Python UDFs."""
    p = t(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_head"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.trim("p_name").alias("name_trim"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
    )


# ---------------------------------------------------------------------------
# C13 — date/time functions
# ---------------------------------------------------------------------------

@query(
    "q17_date_funcs",
    oracle="""
    SELECT
      CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
      CAST(MONTH(o_orderdate) AS BIGINT) AS o_month,
      CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      {p} AS month_rev
    FROM orders
    WHERE datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') < 1500
    GROUP BY 1, 2, 3
    """.format(p=sql_dsum("o_totalprice")),
)
def q17_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar extraction + truncation + datediff filter (C13).

    Scale: date_trunc group keys are derived JVM-side inside codegen; the
    groupBy shuffles only (year, month) aggregates.
    """
    o = t(spark, sf_dir, "orders").filter(
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date")) < 1500
    )
    return (
        o.groupBy(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            F.month("o_orderdate").cast("bigint").alias("o_month"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("month_rev"),
        )
    )


# ---------------------------------------------------------------------------
# C14 — math functions (transcendentals rounded to kill last-ulp divergence)
# ---------------------------------------------------------------------------

@query(
    "q18_math_funcs",
    oracle="""
    SELECT
      c_custkey,
      ABS(c_acctbal) AS bal_abs,
      CAST(CEIL(c_acctbal / 100.0) AS BIGINT) AS bal_ceil,
      CAST(FLOOR(c_acctbal / 100.0) AS BIGINT) AS bal_floor,
      SQRT(ABS(c_acctbal)) AS bal_sqrt,
      FLOOR(LN(ABS(c_acctbal) + 1.0) * 1000000.0 + 0.5) / 1000000.0 AS bal_ln,
      c_acctbal * c_acctbal AS bal_sq
    FROM customer
    WHERE c_custkey % 7 = 0
    """,
)
def q18_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function coverage (C14): abs/ceil/floor/sqrt are IEEE-exact;
    ln is rounded to 6 dp because libm implementations may differ in the
    final ulp between JVM and C engines."""
    cu = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 7 == 0)
    return cu.select(
        "c_custkey",
        F.abs("c_acctbal").alias("bal_abs"),
        F.ceil(F.col("c_acctbal") / 100.0).cast("bigint").alias("bal_ceil"),
        F.floor(F.col("c_acctbal") / 100.0).cast("bigint").alias("bal_floor"),
        F.sqrt(F.abs(F.col("c_acctbal"))).alias("bal_sqrt"),
        dround(F.log(F.abs(F.col("c_acctbal")) + 1.0)).alias("bal_ln"),
        (F.col("c_acctbal") * F.col("c_acctbal")).alias("bal_sq"),
    )


# ---------------------------------------------------------------------------
# B4/C23-style — conditional aggregation (CASE WHEN pivot shape)
# ---------------------------------------------------------------------------

@query(
    "q19_conditional_agg",
    oracle="""
    SELECT
      c_mktsegment,
      CAST(SUM(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_rich,
      CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_debt,
      {pos} AS pos_bal
    FROM customer
    GROUP BY c_mktsegment
    """.format(pos=sql_dsum("CASE WHEN c_acctbal > 0 THEN c_acctbal ELSE 0 END")),
)
def q19_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN inside aggregates (B4: when/otherwise, isNotNull family)."""
    cu = t(spark, sf_dir, "customer")
    return cu.groupBy("c_mktsegment").agg(
        F.sum(F.when(F.col("c_acctbal") > 5000, 1).otherwise(0)).cast("bigint").alias("n_rich"),
        F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0)).cast("bigint").alias("n_debt"),
        dsum(F.when(F.col("c_acctbal") > 0, F.col("c_acctbal")).otherwise(F.lit(0.0))).alias("pos_bal"),
    )


# ---------------------------------------------------------------------------
# C15 — JSON extraction (events.props is a JSON string)
# ---------------------------------------------------------------------------

@query(
    "q20_json_extract",
    oracle="""
    SELECT
      event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
      CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q20_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from a string column (C15) + aggregation.

    ``get_json_object`` is evaluated JVM-side; at scale prefer parsing once
    with ``from_json`` into a struct column when several fields are needed.
    """
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.min(k).cast("bigint").alias("min_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# C15/C19 — array explode (term frequencies over documents)
# ---------------------------------------------------------------------------

@query(
    "q21_explode_terms",
    oracle="""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
)
def q21_explode_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split → explode → term frequency + document frequency (C15 arrays,
    C19 text analysis).

    Scale: explode multiplies rows by tokens/doc; the groupBy on ``word``
    benefits from map-side partial aggregation, and hot stopwords are
    exactly the skewed keys AQE's skew handling addresses.
    """
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# C16 — exact deduplication (deterministic representative via min)
# ---------------------------------------------------------------------------

@query(
    "q22_exact_dedup",
    oracle="""
    SELECT
      md5(text) AS text_hash,
      CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q22_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash, keeping the lowest doc_id (C16).

    ``dropDuplicates`` keeps an *arbitrary* row per key — fine in
    production, not hash-comparable; the deterministic formulation
    aggregates min(doc_id) per hash. Scale: grouping on md5(text) shuffles
    a 32-byte key instead of the full document text.
    """
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# C6+C9 — correlated-subquery shape via window (above-average parts)
# ---------------------------------------------------------------------------

@query(
    "q23_above_avg_parts",
    oracle="""
    SELECT p_partkey, p_brand, p_retailprice
    FROM (
      SELECT p_partkey, p_brand, p_retailprice,
             CAST(SUM(CAST(ROUND(p_retailprice * 1000000.0, 0) AS BIGINT))
                    OVER (PARTITION BY p_brand) AS DOUBLE) / 1000000.0
               / COUNT(p_retailprice) OVER (PARTITION BY p_brand) AS brand_avg
      FROM part
    )
    WHERE p_retailprice > brand_avg
    """,
)
def q23_above_avg_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts priced above their brand average — the classic correlated
    subquery decorrelated into a window aggregate (C6/C9).

    Scale: one shuffle on p_brand instead of a self-join; identical result,
    half the I/O.
    """
    from pyspark.sql import Window as W

    p = t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand")
    brand_avg = unscale(F.sum(scaled(F.col("p_retailprice"))).over(w)) / F.count(
        "p_retailprice"
    ).over(w)
    return (
        p.withColumn("brand_avg", brand_avg)
        .filter(F.col("p_retailprice") > F.col("brand_avg"))
        .select("p_partkey", "p_brand", "p_retailprice")
    )


# ---------------------------------------------------------------------------
# C6 — pivot (conditional-aggregation twin for the oracle)
# ---------------------------------------------------------------------------

@query(
    "q24_pivot_event_types",
    oracle="""
    SELECT
      CAST(user_id % 50 AS BIGINT) AS user_bucket,
      {click} AS click, {view} AS view, {purchase} AS purchase,
      {signup} AS signup, {error} AS error
    FROM events
    GROUP BY user_id % 50
    """.format(
        **{
            et: sql_dsum(f"CASE WHEN event_type = '{et}' THEN value ELSE 0 END")
            for et in ("click", "view", "purchase", "signup", "error")
        }
    ),
)
def q24_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event values into one column per event type (C6 pivot).

    Scale: an explicit value list avoids the extra distinct-values job Spark
    otherwise runs before pivoting.
    """
    ev = t(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 50).cast("bigint")
    )
    types = ["click", "view", "purchase", "signup", "error"]
    piv = (
        ev.groupBy("user_bucket")
        .pivot("event_type", types)
        .agg(unscale(F.sum(scaled(F.col("value")))))
    )
    # pivot yields NULL for absent (bucket, type) combos; oracle's CASE yields 0
    out = piv
    for et in types:
        out = out.withColumn(et, F.coalesce(F.col(et), F.lit(0.0)))
    return out


# ---------------------------------------------------------------------------
# C15 — from_json struct parsing (vs q20's get_json_object path)
# ---------------------------------------------------------------------------

@query(
    "q25_from_json",
    oracle="""
    SELECT
      CAST(user_id % 20 AS BIGINT) AS user_bucket,
      CAST(COUNT(*) AS BIGINT) AS n_target,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY user_id % 20
    """,
)
def q25_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON payload ONCE into a typed struct with ``from_json``
    (C15) and aggregate fields from it.

    Scale: unlike per-field ``get_json_object`` (q20), ``from_json``
    tokenizes each payload a single time however many fields are read —
    the right pattern when a 100 TB event stream carries wide JSON.
    """
    ev = t(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "purchase"))
    parsed = ev.withColumn("p", F.from_json("props", "k BIGINT"))
    return (
        parsed.groupBy((F.col("user_id") % 20).cast("bigint").alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_target"),
            F.sum(F.col("p.k")).cast("bigint").alias("sum_k"),
            F.max(F.col("p.k")).cast("bigint").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# C7 — exact percentiles (linear interpolation, matches quantile_cont)
# ---------------------------------------------------------------------------

@query(
    "q26_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS p50,
           quantile_cont(l_extendedprice, 0.9) AS p90,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q26_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (C7): Spark ``percentile`` and DuckDB
    ``quantile_cont`` both use linear interpolation — verified bit-exact.

    SIZE-GATED (``operators/histogram.py``): exact percentile buffers a
    whole group's values in one aggregation buffer, so keys above the 4M
    row gate flip IN-PLAN to ``percentile_approx`` (sketch state, merges
    map-side) instead of OOMing a task. Every fixture key is far below
    the gate, so the oracle checks the exact branch; q78 exercises the
    sketch tier directly.
    """
    from pyspark_streaming_base_spark.operators.histogram import gated_percentiles

    return gated_percentiles(
        t(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_extendedprice",
        percentiles=(0.5, 0.9),
    )


# ---------------------------------------------------------------------------
# C15 — array transformations (slice / sort / join)
# ---------------------------------------------------------------------------

@query(
    "q27_array_ops",
    oracle="""
    SELECT doc_id,
           array_to_string(list_slice(toks, 1, 5), '-') AS head5,
           array_to_string(list_slice(list_sort(list_distinct(toks)), 1, 3), '-')
             AS alpha3,
           CAST(len(toks) AS BIGINT) AS n_toks
    FROM (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    )
    """,
)
def q27_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array slice/sort/distinct/join coverage (C15), scalar outputs so the
    value hash stays type-simple."""
    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    return d.select(
        "doc_id",
        F.concat_ws("-", F.slice(toks, 1, 5)).alias("head5"),
        F.concat_ws("-", F.slice(F.sort_array(F.array_distinct(toks)), 1, 3)).alias("alpha3"),
        F.size(toks).cast("bigint").alias("n_toks"),
    )


@query("q78_approx_percentile", oracle=None)  # sketch is engine-specific
def q78_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles per group (C7 sketch tier — the 100 TB twin
    of q26's exact percentile): ``percentile_approx`` keeps O(accuracy)
    state per group instead of buffering every value, mergeable across
    partitions like HLL (q11) and Count-Min (q58).

    Rows-only driver check (the sketch algorithm is engine-specific);
    the pytest pins the published guarantee instead: with accuracy A the
    RANK error is ≤ n/A, asserted against q26's exact values.
    """
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile_approx(l_extendedprice, array(0.5, 0.9, 0.99), 10000)"
            ).alias("approx"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            F.col("approx")[0].alias("p50_approx"),
            F.col("approx")[1].alias("p90_approx"),
            F.col("approx")[2].alias("p99_approx"),
            "n_rows",
        )
    )


@query(
    "q84_outer_join_audit",
    oracle="""
    WITH oa AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(ROUND(o_totalprice * 1000000.0, 0) AS BIGINT)) AS sp
      FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(c.c_custkey, oa.o_custkey) AS custkey,
           CASE
             WHEN c.c_custkey IS NULL THEN 'order_only'
             WHEN oa.o_custkey IS NULL THEN 'customer_only'
             ELSE 'both'
           END AS presence,
           COALESCE(oa.n_orders, 0) AS n_orders,
           CAST(COALESCE(oa.sp, 0) AS DOUBLE) / 1000000.0 AS total_spend
    FROM customer c FULL JOIN oa ON c.c_custkey = oa.o_custkey
    """,
)
def q84_outer_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join reconciliation (C3's outer tier — the audit join
    every referential-integrity check runs): customers vs per-customer
    order aggregates, categorized into both / customer_only / order_only
    with null-safe key coalescing. TPC-H has no orphan orders, so
    ``order_only`` is structurally empty here — the category exists to
    prove the join side, not the fixture.

    Scale: the order aggregation is map-side combined to one row per
    customer BEFORE the join (never full-outer-join raw orders against
    customers — pre-reduce, then reconcile); both sides then shuffle once
    on the key. Exact money math via scaled-int sums.
    """
    oa = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(scaled(F.col("o_totalprice"))).alias("sp"),
        )
    )
    c = t(spark, sf_dir, "customer").select("c_custkey")
    j = c.join(oa, c.c_custkey == oa.o_custkey, "full_outer")
    return j.select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
        F.when(F.col("c_custkey").isNull(), "order_only")
        .when(F.col("o_custkey").isNull(), "customer_only")
        .otherwise("both")
        .alias("presence"),
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("bigint").alias("n_orders"),
        (F.coalesce(F.col("sp"), F.lit(0)).cast("double") / 1000000.0).alias(
            "total_spend"
        ),
    )


@query(
    "q88_salted_skew_join",
    oracle=f"""
    SELECT s.s_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum('l.l_extendedprice')} AS total_price
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
)
def q88_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant join via explicit salting (`operators/salting.py`):
    lineitem ⋈ supplier through ``salted_join`` — the big side gets a
    deterministic ``xxhash64(l_orderkey) mod 16`` salt, the supplier side
    is replicated 16×, so one hot supplier key spreads over 16 shuffle
    partitions. The oracle is the PLAIN join: salting must be
    row-multiset-invisible in the result (also property-tested in
    ``tests/test_salted_join.py``).

    Scale: this is the pre-shuffle skew defense for the cases AQE's
    runtime skew-split can't reach (stream-static joins, known hot keys);
    replication cost is 16×|supplier| — chosen because supplier is
    small-but-growing, the side you'd neither broadcast nor leave as the
    probe at a 100 TB lineitem. The post-join aggregation is map-side
    combined before its single key shuffle.
    """
    from pyspark_streaming_base_spark.operators.salting import salted_join

    l = t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_extendedprice"
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    j = salted_join(l, s, on=["l_suppkey"], salt_on="l_orderkey")
    return j.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        dsum(F.col("l_extendedprice")).alias("total_price"),
    ).select(
        F.col("s_nationkey").alias("nationkey"), "n_items", "total_price"
    )


@query(
    "q96_min_cost_supplier",
    oracle=f"""
    WITH ps AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             {sql_dround(
                 sql_dsum("l_extendedprice")
                 + " / (CAST(SUM(CAST(ROUND(l_quantity * 1000000.0, 0)"
                 " AS BIGINT)) AS DOUBLE) / 1000000.0)"
             )} AS unit_price_r
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT partkey, suppkey, unit_price_r,
             ROW_NUMBER() OVER (
               PARTITION BY partkey ORDER BY unit_price_r, suppkey
             ) AS rn
      FROM ps
    )
    SELECT p.p_partkey AS partkey, p.p_brand AS brand,
           s.s_name AS supplier_name, n.n_name AS nation,
           b.unit_price_r
    FROM best b
    JOIN part p ON p.p_partkey = b.partkey
    JOIN supplier s ON s.s_suppkey = b.suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE b.rn = 1 AND p.p_size >= 30
    """,
)
def q96_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-style correlated minimum (adapted: no partsupp table, so
    the part↔supplier relation is derived from lineitem sales): for each
    large part, the supplier with the lowest observed unit price.

    The correlated ``price = (SELECT MIN ...)`` subquery is decorrelated
    into ONE window rank over the (part, supplier) aggregate — the shape
    Catalyst itself rewrites correlated scalar subqueries into, but stated
    directly so the plan is one aggregation + one rank instead of a
    self-join against a re-aggregation. Unit price ranks on the ROUNDED
    value with a suppkey tie-break (cross-engine-deterministic ordering,
    q60 pattern); sums go through the scaled-int path so the rounded
    quotient is identical on both engines.

    Scale: the (part, supplier) aggregate shuffles once on a compound
    high-cardinality key; the rank window re-shuffles only the aggregate
    (≪ lineitem); part/supplier/nation are broadcast dims.
    """
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(
        dround(
            dsum(F.col("l_extendedprice")) / dsum(F.col("l_quantity"))
        ).alias("unit_price_r")
    )
    w = W.partitionBy("partkey").orderBy("unit_price_r", "suppkey")
    best = ps.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    p = dim(spark, sf_dir, "part").filter(F.col("p_size") >= 30)
    s = dim(spark, sf_dir, "supplier")
    n = dim(spark, sf_dir, "nation")
    return (
        best.join(p, best["partkey"] == p["p_partkey"])
        .join(s, best["suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_brand").alias("brand"),
            F.col("s_name").alias("supplier_name"),
            F.col("n_name").alias("nation"),
            "unit_price_r",
        )
    )


@query(
    "q97_profit_by_nation_year",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           {sql_dsum("l_extendedprice * (1 - l_discount)"
                     " - l_quantity * p_retailprice * 0.1")} AS profit
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)
    """,
)
def q97_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-style profit rollup (adapted: no partsupp, so supply cost
    is modeled as 10% of the part's retail price): revenue minus cost per
    supplier nation per order year, across a 5-way join.

    The 4-decimal revenue term and 3-decimal cost term both sit exactly
    on the 10⁻⁶ grid, so the whole expression goes through one scaled-int
    sum — exact across engines at any parallelism.

    Scale: ONE fact-fact shuffle (lineitem⋈orders on orderkey); supplier,
    nation, and part are broadcast, so the expression is evaluated
    map-side and partial-aggregated before the final (nation, year)
    shuffle of a few hundred groups.
    """
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = dim(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = dim(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    p = dim(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "l_quantity"
    ) * F.col("p_retailprice") * 0.1
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(dsum(amount).alias("profit"))
    )


_Q114_NATIONS = ("NATION_1", "NATION_2")


@query(
    "q114_binational_volume",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, {rev} AS revenue
    FROM (
      SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
             l.l_extendedprice, l.l_discount
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
      JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
      WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
         OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """.format(rev=sql_dsum("l_extendedprice * (1 - l_discount)")),
)
def q114_binational_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style bi-national shipping volume (C3/C6 depth): revenue
    flowing between two nations in BOTH roles — the same dimension table
    (nation) joined twice under different keys, the join pattern the
    star-join queries (q04, q97) don't exercise.

    Plan: both nation aliases and the filtered customer/supplier maps
    broadcast (the nation filter prunes them BEFORE the broadcast, so
    the fact scan is semi-filtered early); lineitem ⋈ orders is the only
    fact-fact shuffle; the final (nation, nation, year) aggregate is
    map-side partial over a handful of groups. The disjunctive two-role
    predicate stays in the join output filter — at 100 TB the broadcast
    prunes to the two named nations so the filter touches only
    qualifying fact rows.
    """
    nation = dim(spark, sf_dir, "nation")
    ns = nation.filter(F.col("n_name").isin(*_Q114_NATIONS)).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.filter(F.col("n_name").isin(*_Q114_NATIONS)).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .select("c_custkey", "cust_nation")
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("bigint").alias("l_year"),
    ).agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))


@query(
    "q119_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT)
             AS sum_k,
           CAST(max(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT)
             AS max_k
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS INTEGER) >= 50
    GROUP BY event_type
    """,
)
def q119_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT tier (C15, Spark 4 native): ``parse_json``
    into a VARIANT column, typed ``variant_get`` extraction, predicate
    and aggregate on the extracted value. Where q20/q25 use string-path
    extraction and fixed-schema ``from_json``, VARIANT is the
    open-schema representation Spark 4 shreds into its binary format
    once — repeated extractions don't re-parse the text.

    The integer extraction keeps the oracle exact (DuckDB json_extract
    + cast); grouping folds the variant away so the output schema stays
    hashable primitives.
    """
    ev = t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
    )


@query(
    "q187_revenue_pareto",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 1000000.0, 0) AS BIGINT))
               AS BIGINT) AS rv
      FROM orders GROUP BY o_custkey
    ), v AS (
      SELECT rv AS value, CAST(COUNT(*) AS BIGINT) AS ca,
             CAST(rv * COUNT(*) AS BIGINT) AS cb
      FROM rev GROUP BY rv
    ), cum AS (
      SELECT value,
             CAST(SUM(ca) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum_a,
             CAST(SUM(cb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum_b,
             CAST(SUM(ca) OVER () AS BIGINT) AS na,
             CAST(SUM(cb) OVER () AS BIGINT) AS nb
      FROM v
    ), grid AS (SELECT unnest(generate_series(1, 10)) AS decile)
    SELECT g.decile AS decile,
           CAST(MIN(c.value) AS DOUBLE) / 1000000.0 AS cut_revenue,
           CAST(MIN_BY(c.cum_a, c.value) AS BIGINT) AS customers_cum,
           CAST(MIN_BY(c.cum_b, c.value) AS DOUBLE)
             / CAST(MIN(c.nb) AS DOUBLE) AS revenue_share
    FROM grid g JOIN cum c
      ON c.cum_a >= CEIL(g.decile * c.na / 10.0)
    GROUP BY g.decile
    """,
)
def q187_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-revenue Lorenz/Pareto deciles (concentration extension —
    q167's Gini measured the inequality NUMBER; this is the CURVE the
    number summarizes, on the business side): customers ranked by total
    order revenue ascending; for each population decile, the boundary
    customer's revenue (cut_revenue), customers covered, and the share
    of total revenue the bottom d/10 of customers hold. The top-decile
    complement (1 − share at d=9) is the classic "top 10% of customers
    drive X% of revenue" statement.

    Exactness: per-customer revenue is the exact 10⁶-scaled int sum;
    the whole curve is computed on the scaled-INT value domain —
    cumulative counts and cumulative revenue are exact int64 under any
    partitioning; boundary selection (smallest value whose cumulative
    customer count reaches ⌈d·n/10⌉) and the closing single divisions
    are bit-deterministic on both engines.

    Scale: one orders scan → customer-keyed exact-sum aggregate → fold
    to the DISTINCT revenue-value domain; cumulatives ride the shared
    bucketed two-pass prefix sum (`_ecdf.pooled_cumulative_counts`,
    smuggling scaled revenue through the second counts channel — counts
    and revenue are both exact int64, which is what makes the trick
    legal); the decile probe is a broadcast 10-row grid against the
    value-domain table (10× a bounded domain, keys-only). No
    corpus-sized global-order window anywhere.

    Capacity (cum_b channel, wired r12): the corpus-wide 10⁶-scaled
    revenue total is ~10²² at the SCALE.md 100 TB design point — past
    int64's 2⁶³ ≈ 9.2·10¹⁸. The revenue channel therefore rides
    `pooled_cumulative_counts`' b-channel as DECIMAL(38,0) (per-value
    `cb` is cast BEFORE the multiply so the product never materializes
    in int64; the prefix sum is additive either way and exact to
    10³⁸). Per-CUSTOMER revenue stays int64 — one customer's orders
    overflowing $9.2 × 10¹² is not a real regime — as does the count
    channel. The DuckDB oracle keeps plain BIGINT: at oracle scale
    both forms are exact integers, and the only decimal-typed columns
    are folded to DOUBLE by a correctly-rounded single cast on both
    engines (Java BigDecimal.doubleValue == C++ int64→double, round
    to nearest), so the hash match is unchanged. Overflow-regime unit
    test: tests/test_ecdf_capacity.py (synthetic cb near 2⁶³, cum_b
    exceeding it).
    """
    from pyspark_streaming_base_spark.queries._ecdf import (
        pooled_cumulative_counts,
    )

    rev = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(scaled(F.col("o_totalprice"))).cast("bigint").alias("rv"))
    )
    v = rev.groupBy(F.col("rv").alias("value")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ca"),
        (F.col("rv").cast("decimal(38,0)") * F.count(F.lit(1)))
        .cast("decimal(38,0)")
        .alias("cb"),
    )
    cum = pooled_cumulative_counts(v, b_type="decimal(38,0)")
    grid = spark.range(1, 11).select(F.col("id").cast("bigint").alias("decile"))
    probe = F.broadcast(grid).join(
        cum, F.col("cum_a") >= F.ceil(F.col("decile") * F.col("na") / F.lit(10.0))
    )
    return probe.groupBy("decile").agg(
        (F.min("value").cast("double") / F.lit(1000000.0)).alias("cut_revenue"),
        F.min_by("cum_a", "value").cast("bigint").alias("customers_cum"),
        (
            F.min_by("cum_b", "value").cast("double")
            / F.min("nb").cast("double")
        ).alias("revenue_share"),
    )
