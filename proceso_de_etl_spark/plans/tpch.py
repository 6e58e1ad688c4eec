"""Analytic query suite over the star schema (TPC-H-shaped, adapted
to the columns the testdata carries).

These are the BI queries the reference's star schema exists to serve
(SURVEY.md §1-§2.2): scan/filter/project with parquet pushdown,
multi-way joins with broadcast dims, group-aggregates with partial
(map-side) aggregation, correlated subqueries as semi-joins, top-N
with deterministic tie-breaks.

Scale notes (100 TB): ``F.broadcast`` hints are reserved for tables
whose size is INDEPENDENT of the data scale — region/nation/enum
dims (25/5 rows at any SF). customer/supplier/part grow linearly
with SF (customer alone is TBs at SF100k), so their joins carry no
hint: AQE + ``spark.sql.autoBroadcastJoinThreshold`` auto-broadcast
them while they fit (they do at bench SF) and fall back to shuffle
joins when they don't — a forced hint would OOM every executor
instead. The remaining shuffles are fact-fact joins (lineitem ⋈
orders on orderkey) and the final group-bys, both on
high-cardinality keys that AQE re-splits on skew. Filters are
expressed directly on scan columns so Catalyst pushes them into the
parquet reader.

Numeric outputs use dsum/davg (exact decimal accumulation → double,
see functions/columns.py) so results are identical under any degree
of parallelism.

Each query has a matching ANSI-SQL oracle in ORACLES (same aliases,
same decimal-exact aggregation) runnable by DuckDB.

Parameters. A TPC-H query is a template with substitution
parameters. The families q1, q3, q4, q5, q6, q10, q14, q17 and q18
live here (q9, q12 and q19 in plans/tpch_ext.py). Each one declares
its base parameters once, in a ``Q<n>_BASE`` dict beside its builder.
The builder takes a parameter dict ``p`` that defaults to it, and the
oracle is the ``q<n>_sql(p)`` template rendered from the same dict.
So the base key is the family at ``Q<n>_BASE``, and
plans/tpch_params.py binds the same builder and template to a second
dict for the ``_v2`` key. The other queries keep their constants
inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from proceso_de_etl_spark.functions.columns import davg, dsum
from proceso_de_etl_spark.sources.catalog import load_table


def DISC_PRICE():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def CHARGE():
    return F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))


def _ts(d: str):
    """The ``TIMESTAMP 'd 00:00:00'`` literal as a Spark column."""
    return F.expr(f"TIMESTAMP '{d} 00:00:00'")


ORACLES: dict[str, str] = {}


Q1_BASE = {"ship_cutoff": "2001-09-01"}


def q1_pricing_summary(spark: SparkSession, sf_dir: str, p: dict = Q1_BASE) -> DataFrame:
    """Pricing summary report: 2-key groupBy, 8 aggregates, one scan.

    One shuffle on (returnflag, linestatus) — 6 groups total, partial
    aggregation collapses each map partition to ≤6 rows first, so the
    shuffle volume is O(partitions), not O(rows), at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= _ts(p["ship_cutoff"]))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(DISC_PRICE(), 6).alias("sum_disc_price"),
            dsum(CHARGE(), 6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg(F.col("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q1_sql(p: dict = Q1_BASE) -> str:
    return f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{p["ship_cutoff"]} 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


ORACLES["q1_pricing_summary"] = q1_sql()


Q3_BASE = {"segment": "BUILDING", "cutoff": "1998-03-15"}


def q3_shipping_priority(spark: SparkSession, sf_dir: str, p: dict = Q3_BASE) -> DataFrame:
    """Unshipped-orders revenue: 3-way join + group + top-10.

    customer scales with SF so it carries no broadcast hint — AQE
    broadcasts it while small, shuffle-joins it at 100 TB; the
    lineitem ⋈ orders join shuffles on orderkey. Top-10 uses a total
    order with o_orderkey tie-break so the result is deterministic.
    """
    cutoff = _ts(p["cutoff"])
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == p["segment"])
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(dsum(DISC_PRICE(), 6).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q3_sql(p: dict = Q3_BASE) -> str:
    return f"""
SELECT o_orderkey, o_orderdate,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{p["segment"]}'
  AND o_orderdate < TIMESTAMP '{p["cutoff"]} 00:00:00'
  AND l_shipdate  > TIMESTAMP '{p["cutoff"]} 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


ORACLES["q3_shipping_priority"] = q3_sql()


Q4_BASE = {"start": "1996-01-01", "end": "1996-07-01", "late_days": 60}


def q4_order_priority(spark: SparkSession, sf_dir: str, p: dict = Q4_BASE) -> DataFrame:
    """Order-priority checking: correlated EXISTS as a left-semi join
    (late-shipping lineitems), then count per priority."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts(p["start"]))
        & (F.col("o_orderdate") < _ts(p["end"]))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.expr(f"o_orderdate + INTERVAL {p['late_days']} DAY")),
            "left_semi",
        )
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def q4_sql(p: dict = Q4_BASE) -> str:
    return f"""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{p["start"]} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{p["end"]} 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL {p["late_days"]} DAY)
GROUP BY o_orderpriority
"""


ORACLES["q4_order_priority"] = q4_sql()


Q5_BASE = {"region": "ASIA", "year_start": "1996-01-01", "year_end": "1997-01-01"}


def q5_local_supplier(spark: SparkSession, sf_dir: str, p: dict = Q5_BASE) -> DataFrame:
    """Local-supplier volume: 6-table join; nation/region (fixed-size
    dims) broadcast by hint, customer/supplier by AQE while they fit."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts(p["year_start"]))
        & (F.col("o_orderdate") < _ts(p["year_end"]))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == p["region"])
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(DISC_PRICE(), 6).alias("revenue"))
    )


def q5_sql(p: dict = Q5_BASE) -> str:
    return f"""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = '{p["region"]}'
  AND o_orderdate >= TIMESTAMP '{p["year_start"]} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{p["year_end"]} 00:00:00'
GROUP BY n_name
"""


ORACLES["q5_local_supplier"] = q5_sql()


Q6_BASE = {
    "year_start": "1996-01-01",
    "year_end": "1997-01-01",
    "disc_lo": 0.03,
    "disc_hi": 0.07,
    "qty_max": 24,
}


def q6_forecast_revenue(spark: SparkSession, sf_dir: str, p: dict = Q6_BASE) -> DataFrame:
    """Forecast revenue change: pure scan-filter-aggregate. All three
    predicates push into the parquet scan (verified in test_plans)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts(p["year_start"]))
            & (F.col("l_shipdate") < _ts(p["year_end"]))
            & (F.col("l_discount") >= p["disc_lo"])
            & (F.col("l_discount") <= p["disc_hi"])
            & (F.col("l_quantity") < p["qty_max"])
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias("revenue"))
    )


def q6_sql(p: dict = Q6_BASE) -> str:
    return f"""
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{p["year_start"]} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{p["year_end"]} 00:00:00'
  AND l_discount BETWEEN {p["disc_lo"]} AND {p["disc_hi"]}
  AND l_quantity < {p["qty_max"]}
"""


ORACLES["q6_forecast_revenue"] = q6_sql()


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bi-national trade volume by ship year: two aliased broadcast
    joins against nation (supplier's vs customer's); customer and
    supplier joins are unhinted (SF-scaling tables)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(dsum(DISC_PRICE(), 6).alias("revenue"))
    )


ORACLES["q7_volume_shipping"] = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     JOIN customer ON o_custkey = c_custkey
     JOIN supplier ON l_suppkey = s_suppkey
     JOIN nation n1 ON s_nationkey = n1.n_nationkey
     JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS BIGINT)
"""


Q10_BASE = {"quarter_start": "1996-07-01", "quarter_end": "1996-10-01"}


def q10_returned_items(spark: SparkSession, sf_dir: str, p: dict = Q10_BASE) -> DataFrame:
    """Returned-item reporting: top-20 customers by lost revenue."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts(p["quarter_start"]))
        & (F.col("o_orderdate") < _ts(p["quarter_end"]))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(DISC_PRICE(), 6).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q10_sql(p: dict = Q10_BASE) -> str:
    return f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
     JOIN lineitem ON l_orderkey = o_orderkey
     JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '{p["quarter_start"]} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{p["quarter_end"]} 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


ORACLES["q10_returned_items"] = q10_sql()


Q14_BASE = {"month_start": "1996-09-01", "month_end": "1996-10-01"}


def q14_promo_effect(spark: SparkSession, sf_dir: str, p: dict = Q14_BASE) -> DataFrame:
    """Promotion effect: conditional aggregation over a part join —
    CASE WHEN inside SUM; part is unhinted (SF-scaling), AQE
    broadcasts it while it fits."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts(p["month_start"]))
        & (F.col("l_shipdate") < _ts(p["month_end"]))
    )
    part = load_table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", DISC_PRICE()).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (100.0 * dsum(promo, 6) / dsum(DISC_PRICE(), 6)).alias("promo_revenue_pct")
        )
    )


def q14_sql(p: dict = Q14_BASE) -> str:
    return f"""
SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '{p["month_start"]} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{p["month_end"]} 00:00:00'
"""


ORACLES["q14_promo_effect"] = q14_sql()


Q17_BASE = {"brand": "Brand#23", "factor": 0.2}


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str, p: dict = Q17_BASE) -> DataFrame:
    """Small-quantity-order revenue: correlated scalar AVG subquery,
    expressed as a per-part aggregate joined back (the plan Catalyst
    would de-correlate to anyway; quantity sums are exact in double).
    The per-part average is computed only for the brand's partkeys —
    a left-semi filter ahead of the aggregate cuts its input ~25×
    (the correlation only ever needs those groups; identical
    values)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == p["brand"])
    per_part = (
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("ap_partkey"))
        .agg((F.sum("l_quantity") / F.count("l_quantity")).alias("avg_qty"))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < p["factor"] * F.col("avg_qty"))
        .agg((dsum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


def q17_sql(p: dict = Q17_BASE) -> str:
    return f"""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = '{p["brand"]}'
  AND l_quantity < {p["factor"]} * (SELECT SUM(l_quantity) / COUNT(l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


ORACLES["q17_small_qty_revenue"] = q17_sql()


Q18_BASE = {"qty_threshold": 130}


def q18_large_orders(spark: SparkSession, sf_dir: str, p: dict = Q18_BASE) -> DataFrame:
    """Large-volume customers: group-having pushed to the fact side
    first (one pass over lineitem), then joins pick up the labels."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > p["qty_threshold"])
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            F.col("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


def q18_sql(p: dict = Q18_BASE) -> str:
    return f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > {p["qty_threshold"]}) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


ORACLES["q18_large_orders"] = q18_sql()


def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sales opportunity: customers above the (exact) average
    balance with no orders — scalar aggregate broadcast + anti-join."""
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ts("2000-01-01")
    )
    nation = load_table(spark, sf_dir, "nation")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


ORACLES["q22_global_sales"] = """
SELECT n_name, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal)
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY n_name
"""

QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q5_local_supplier": q5_local_supplier,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q10_returned_items": q10_returned_items,
    "q14_promo_effect": q14_promo_effect,
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q18_large_orders": q18_large_orders,
    "q22_global_sales": q22_global_sales,
}
