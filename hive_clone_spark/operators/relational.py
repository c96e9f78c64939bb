"""Generic relational operator surface (SURVEY.md §2b, M1).

Each query exercises one or more Spark primitives required by the
reference decomposition (scans, CASE projection, broadcast/semi/anti/
theta joins, aggregation, rollup/cube, windows, top-k, set ops,
explode/sequence, bitwise, scalar-math chains) on the driver's
TPC-H-ish tables, with a DuckDB oracle for every one.

Determinism conventions (see registry.py): decimal-exact aggregates
cast to double after rounding; timestamps stringified; total orders on
every limit.

Scale notes (100 TB): all plans here are Catalyst-native — filters and
projections reach the parquet scan, small dimensions broadcast
(region/nation/part-filtered sides), fact-fact joins shuffle on their
join keys with AQE handling skew/coalesce. Nothing collects to the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hive_clone_spark.catalog import local_frame, table
from hive_clone_spark.registry import register


def _dec(col: str, scale: int = 2) -> F.Column:
    """Exact (order-independent) summation type for a double column."""
    return F.col(col).cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# Q01 — pricing summary (TPC-H Q1 shape): scan + filter + groupBy aggregates.
# Spark: partial (map-side) aggregation then a 6-group exchange; the
# shipdate filter and 7-column projection push into the parquet scan.
# ---------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2)))
               * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
      ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    charge = disc_price * (F.lit(1) + _dec("l_tax"))
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(F.sum(_dec("l_quantity")).cast("double") / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / F.count("*"), 6).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q02 — projection + CASE (SURVEY §2b "select/where/CASE"; reference R4's
# CASE shape, rules.cpp:40-47). Pure row-wise narrow plan, no shuffle.
# ---------------------------------------------------------------------------
@register(
    "q02_case_projection",
    oracle="""
    SELECT
      o_orderkey,
      o_orderstatus,
      CASE
        WHEN o_totalprice >= 300000 THEN 'JUMBO'
        WHEN o_totalprice >= 150000 THEN 'LARGE'
        WHEN o_totalprice >= 50000 THEN 'MEDIUM'
        ELSE 'SMALL'
      END AS price_band,
      CAST(year(o_orderdate) AS INT) AS order_year
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    ORDER BY o_orderkey
    """,
)
def q02_case_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(F.col("o_totalprice") >= 300000, "JUMBO")
            .when(F.col("o_totalprice") >= 150000, "LARGE")
            .when(F.col("o_totalprice") >= 50000, "MEDIUM")
            .otherwise("SMALL")
            .alias("price_band"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Q03 — shipping priority (TPC-H Q3 shape): 3-way join + agg + top-k.
# customer(filtered) is broadcast; orders⋈lineitem shuffles on orderkey.
# ---------------------------------------------------------------------------
@register(
    "q03_shipping_priority",
    oracle="""
    SELECT
      l_orderkey,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q05 — revenue by nation (TPC-H Q5 shape): 6-way star join.
# region/nation broadcast; customer⋈orders and lineitem⋈supplier shuffle.
# ---------------------------------------------------------------------------
@register(
    "q05_local_supplier_volume",
    oracle="""
    SELECT
      n_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# Q06 — forecast revenue change (TPC-H Q6 shape): pure pushed-down scan
# filter + single global aggregate. The four predicates all reach the
# parquet reader as PushedFilters.
# ---------------------------------------------------------------------------
@register(
    "q06_forecast_revenue",
    oracle="""
    SELECT
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q07 — left-semi join (EXISTS; reference R1/P2/P4 semantics,
# rules.cpp:8-10): suppliers having at least one max-quantity lineitem.
# ---------------------------------------------------------------------------
@register(
    "q07_semi_join_exists",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey
    FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49
    )
    ORDER BY s_suppkey
    """,
)
def q07_semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    l = table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 49)
    return (
        s.join(l, s.s_suppkey == l.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_nationkey")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q08 — left-anti join (NOT EXISTS; reference ¬R1 / P6 anti-occupancy,
# ui_app.cpp:566): customers with no orders since a cutoff date.
# The cutoff restriction (r7 verdict task 2) makes the result NON-empty
# at every scale factor (135 rows at sf0.01) — the generator gives every
# customer at least one order, so the unrestricted form verified
# empty-vs-empty and proved nothing. The date filter is pushed into the
# orders scan BEFORE the anti-join, so the right side shrinks at the
# source (PushedFilters on o_orderdate), and the anti-join itself is a
# hash anti on the shuffled key — the scalable NOT EXISTS plan.
# ---------------------------------------------------------------------------
@register(
    "q08_anti_join_not_exists",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= DATE '2000-01-01')
    ORDER BY c_custkey
    """,
)
def q08_anti_join_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01"))
        .select("o_custkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Q09 — distinct aggregation (SURVEY §2b "distinct"): per-nation distinct
# buying customers + order count. count(distinct) expands to a two-phase
# agg under AQE; no row explosion.
# ---------------------------------------------------------------------------
@register(
    "q09_count_distinct",
    oracle="""
    SELECT
      n_name,
      COUNT(DISTINCT o_custkey) AS n_buyers,
      COUNT(*) AS n_orders
    FROM orders, customer, nation
    WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q09_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("o_custkey").alias("n_buyers"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Q10 — ROLLUP (driver OLAP surface, SURVEY §2b): region → nation subtotal
# hierarchy over customer balances. NULL grouping columns mark subtotal
# rows in both engines.
# ---------------------------------------------------------------------------
@register(
    "q10_rollup",
    oracle="""
    SELECT
      r_name,
      n_name,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
      COUNT(*) AS n_cust
    FROM customer, nation, region
    WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
)
def q10_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
            F.count("*").alias("n_cust"),
        )
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# Q11 — CUBE: all grouping combinations of returnflag × linestatus.
# ---------------------------------------------------------------------------
@register(
    "q11_cube",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q11_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Q12 — window row_number (the reference's stack-top idiom, SURVEY §2a
# P4/E1/E2: row_number over (q,r) ordered by height): latest order per
# customer.
# ---------------------------------------------------------------------------
@register(
    "q12_window_rownumber",
    oracle="""
    SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_totalprice
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    WHERE rn = 1
    ORDER BY o_custkey
    """,
)
def q12_window_rownumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Q13 — window running frame (SURVEY §2b "ordered frame scan", R9's
# ray-scan analog): cumulative spend per customer over order sequence.
# ---------------------------------------------------------------------------
@register(
    "q13_window_running_sum",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS DOUBLE) AS running_spend,
      CAST(ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq
    FROM orders
    ORDER BY o_custkey, order_seq
    """,
)
def q13_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.sum(_dec("o_totalprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double")
            .alias("running_spend"),
            F.row_number().over(w).cast("bigint").alias("order_seq"),
        )
        .orderBy("o_custkey", "order_seq")
    )


# ---------------------------------------------------------------------------
# Q14 — window lag/lead: inter-event gap per user on the events table.
# ---------------------------------------------------------------------------
@register(
    "q14_window_lag_gap",
    oracle="""
    SELECT
      user_id,
      event_id,
      event_type,
      CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER (
        PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT) AS gap_us
    FROM events
    ORDER BY user_id, ts, event_id
    """,
)
def q14_window_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return (
        e.select(
            "user_id",
            "event_id",
            "event_type",
            gap.cast("bigint").alias("gap_us"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Q15 — top-k per group (rank; P11's nearest-cell top-1 generalized):
# 3 priciest parts per brand.
# ---------------------------------------------------------------------------
@register(
    "q15_topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT p_brand, p_partkey, p_retailprice, RANK() OVER (
        PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk
      FROM part
    )
    WHERE rnk <= 3
    ORDER BY p_brand, rnk, p_partkey
    """,
)
def q15_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (
        p.withColumn("rnk", F.rank().over(w).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rnk")
        .orderBy("p_brand", "rnk", "p_partkey")
    )


# ---------------------------------------------------------------------------
# Q16 — global top-k (orderBy + limit; Spark plans TakeOrderedAndProject,
# no full sort): 10 largest orders.
# ---------------------------------------------------------------------------
@register(
    "q16_global_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q16_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q17 — set operations (R12's UNION ALL of move branches; P1's EXCEPT):
# high-balance ∪all machinery customers, minus those with open orders.
# ---------------------------------------------------------------------------
@register(
    "q17_set_ops",
    oracle="""
    WITH unioned AS (
      SELECT c_custkey FROM customer WHERE c_acctbal > 9000
      UNION ALL
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    )
    SELECT c_custkey FROM unioned
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    ORDER BY c_custkey
    """,
)
def q17_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    unioned = (
        c.where(F.col("c_acctbal") > 9000)
        .select("c_custkey")
        .unionByName(c.where(F.col("c_mktsegment") == "MACHINERY").select("c_custkey"))
    )
    open_orders = o.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    # EXCEPT (set semantics) — `subtract` is Spark's EXCEPT DISTINCT.
    return unioned.subtract(open_orders).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Q18 — theta/band join (SURVEY §2b "theta/range join"; P13 rect hit-test
# analog): orders classified into a broadcast band dimension by range
# predicate (non-equi join against a literal table).
# ---------------------------------------------------------------------------
@register(
    "q18_band_join",
    oracle="""
    WITH bands(band_name, lo, hi) AS (
      VALUES ('tiny', 0.0, 50000.0), ('small', 50000.0, 150000.0),
             ('large', 150000.0, 300000.0), ('jumbo', 300000.0, 1e12)
    )
    SELECT band_name, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band_name
    ORDER BY band_name
    """,
)
def q18_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    bands = local_frame(
        spark,
        [
            ("tiny", 0.0, 50000.0),
            ("small", 50000.0, 150000.0),
            ("large", 150000.0, 300000.0),
            ("jumbo", 300000.0, 1e12),
        ],
        "band_name string, lo double, hi double",
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_value"),
        )
        .orderBy("band_name")
    )


# ---------------------------------------------------------------------------
# Q19 — sequence + posexplode (R9's ray enumeration primitive,
# rules.cpp:186-192): expand each region into its k = 1..regionkey+2 ray.
# ---------------------------------------------------------------------------
@register(
    "q19_explode_sequence",
    oracle="""
    SELECT r_regionkey, CAST(u.k AS BIGINT) AS k,
           CAST(r_regionkey + u.k AS BIGINT) AS cell
    FROM region, UNNEST(generate_series(1, r_regionkey + 2)) AS u(k)
    ORDER BY r_regionkey, k
    """,
)
def q19_explode_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region")
    return (
        r.select(
            "r_regionkey",
            F.explode(F.sequence(F.lit(1), F.col("r_regionkey") + 2)).alias("k"),
        )
        .select(
            "r_regionkey",
            F.col("k").cast("bigint").alias("k"),
            (F.col("r_regionkey") + F.col("k")).cast("bigint").alias("cell"),
        )
        .orderBy("r_regionkey", "k")
    )


# ---------------------------------------------------------------------------
# Q20 — bitwise pack/unpack (reference F4 ringKey: (q<<32)|uint32(r),
# rules.cpp:68-71, inverse rules.cpp:102-106) over nation keys.
# ---------------------------------------------------------------------------
@register(
    "q20_bitwise_pack",
    oracle="""
    SELECT
      n_nationkey,
      ((CAST(n_regionkey AS BIGINT) << 32) | (CAST(n_nationkey AS BIGINT) & 4294967295))
        AS packed,
      CAST(((CAST(n_regionkey AS BIGINT) << 32) | (CAST(n_nationkey AS BIGINT) & 4294967295)) >> 32
        AS INT) AS unpacked_q,
      CAST((((CAST(n_regionkey AS BIGINT) << 32) | (CAST(n_nationkey AS BIGINT) & 4294967295)) & 4294967295)
        AS INT) AS unpacked_r
    FROM nation
    ORDER BY n_nationkey
    """,
)
def q20_bitwise_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    packed = F.shiftleft(F.col("n_regionkey").cast("bigint"), 32).bitwiseOR(
        F.col("n_nationkey").cast("bigint").bitwiseAND(F.lit(4294967295))
    )
    return (
        n.select(
            "n_nationkey",
            packed.alias("packed"),
            F.shiftright(packed, 32).cast("int").alias("unpacked_q"),
            packed.bitwiseAND(F.lit(4294967295)).cast("int").alias("unpacked_r"),
        )
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# Q21 — scalar math chain (reference F5 axialToPixel, engine.cpp:38-43:
# x = s(√3 q + (√3/2) r), y = s·1.5 r with s=40) as pure column exprs.
# ---------------------------------------------------------------------------
@register(
    "q21_axial_to_pixel",
    oracle="""
    SELECT
      n_nationkey,
      CAST(n_nationkey % 7 - 3 AS INT) AS q,
      CAST(n_regionkey - 2 AS INT) AS r,
      ROUND(CAST(40.0 AS DOUBLE) * (sqrt(3.0) * (n_nationkey % 7 - 3) + sqrt(3.0) / 2 * (n_regionkey - 2)), 4) AS px,
      ROUND(CAST(60.0 AS DOUBLE) * (n_regionkey - 2), 4) AS py
    FROM nation
    ORDER BY n_nationkey
    """,
)
def q21_axial_to_pixel(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    q = (F.col("n_nationkey") % 7 - 3).cast("int")
    r = (F.col("n_regionkey") - 2).cast("int")
    return (
        n.select(
            "n_nationkey",
            q.alias("q"),
            r.alias("r"),
            F.round(40.0 * (F.sqrt(F.lit(3.0)) * q + F.sqrt(F.lit(3.0)) / 2 * r), 4).alias("px"),
            F.round(40.0 * 1.5 * r, 4).alias("py"),
        )
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# Q22 — grouped string/date functions: events bucketed to the hour with
# per-type decimal-exact value sums (tumbling-window batch equivalent;
# streaming variant lives in streaming/windows.py).
# ---------------------------------------------------------------------------
@register(
    "q22_hourly_rollup",
    oracle="""
    SELECT
      strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour_start, event_type
    """,
)
def q22_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"),
        )
        .orderBy("hour_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Q04 — order-priority count (TPC-H Q4 shape): EXISTS-gated aggregate.
# The semi join keeps only orders with at least one lineitem shipped
# more than 60 days after the order date; the count groups by
# priority. Catalyst plans the EXISTS as a left-semi hash join — no
# row explosion from duplicate matching lineitems.
# ---------------------------------------------------------------------------
@register(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1995-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )
