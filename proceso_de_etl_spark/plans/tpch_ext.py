"""Extended analytic suite — more TPC-H-shaped operator patterns
adapted to the testdata columns (SURVEY.md §2.2): argmin-per-group,
ratio-of-conditional-sums, multi-attribute distinct counting,
disjunctive pushdown, and windowed multi-exists.

Same engineering rules as plans/tpch.py: fixed-size dims
(nation/region) broadcast by hint, SF-scaling tables
(customer/supplier/part) unhinted so AQE decides, exact decimal
aggregation for doubles, deterministic tie-breaks on every top-N.
The q9, q12 and q19 families are parameterized the same way as the
families in plans/tpch.py: a ``Q<n>_BASE`` dict, a builder taking
``p``, and a ``q<n>_sql(p)`` oracle template.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from proceso_de_etl_spark.functions.columns import dsum
from proceso_de_etl_spark.plans.tpch import DISC_PRICE, _ts
from proceso_de_etl_spark.sources.catalog import load_table

ORACLES: dict[str, str] = {}


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape — cheapest supplier per part (argmin-per-group): unit
    price observed in lineitem plays partsupp's supplycost; the
    min-cost row per part is selected with a rank window, ties broken
    by suppkey. Restricted to EUROPE suppliers like the original."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)

    eu_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # semi-filter the fact by the region's suppliers and the size-
    # filtered parts BEFORE the aggregate: per-(part, supplier) unit
    # cost is computed independently per group, so dropping groups the
    # query discards later cannot change any surviving value — it just
    # shrinks the aggregation input ~5× (region) × ~2× (size)
    cost = (
        li.join(eu_supp.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg((dsum("l_extendedprice") / F.sum("l_quantity")).alias("unit_cost"))
    )
    w = W.partitionBy("l_partkey").orderBy(F.asc("unit_cost"), F.asc("l_suppkey"))
    best = (
        cost.join(eu_supp, cost.l_suppkey == eu_supp.s_suppkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    return (
        best.join(part, best.l_partkey == part.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            F.round("unit_cost", 6).alias("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), F.asc("p_partkey"))
        .limit(50)
    )


ORACLES["q2_min_cost_supplier"] = """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / SUM(l_quantity) AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eu_supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY l_partkey
            ORDER BY unit_cost ASC, l_suppkey ASC) AS rk
  FROM cost JOIN eu_supp ON l_suppkey = s_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       ROUND(unit_cost, 6) AS unit_cost
FROM best JOIN part ON l_partkey = p_partkey
WHERE rk = 1 AND p_size <= 10
ORDER BY s_acctbal DESC, p_partkey ASC
LIMIT 50
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape — national market share: one supplier nation's
    fraction of AMERICA-region revenue per order year (ratio of
    conditional exact sums). NATION_3 is a real value in the
    testdata's synthetic nation domain, so the numerator is
    exercised with nonzero mass."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n_cust = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")

    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(region), F.col("cn_region") == region.r_regionkey)
    )
    canada_vol = F.when(F.col("supp_nation") == "NATION_3", DISC_PRICE()).otherwise(F.lit(0.0))
    return (
        joined.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg((dsum(canada_vol, 6) / dsum(DISC_PRICE(), 6)).alias("mkt_share"))
    )


ORACLES["q8_market_share"] = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_3'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
                     AS DECIMAL(18,6))) AS DOUBLE)
     / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
       AS mkt_share
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     JOIN customer ON o_custkey = c_custkey
     JOIN supplier ON l_suppkey = s_suppkey
     JOIN nation n1 ON c_nationkey = n1.n_nationkey
     JOIN nation n2 ON s_nationkey = n2.n_nationkey
     JOIN region ON n1.n_regionkey = r_regionkey
WHERE r_name = 'AMERICA'
GROUP BY 1
"""


def q16_parts_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape — distinct supplier count per part attribute combo,
    with an excluded brand (NOT-semantics + multi-key distinct agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#23")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


ORACLES["q16_parts_supplier_cnt"] = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#23'
GROUP BY p_brand, p_type, p_size
"""


Q19_BASE = {
    "bands": (
        {"brand": "Brand#12", "size_hi": 15, "qty_lo": 1, "qty_hi": 11},
        {"brand": "Brand#23", "size_hi": 25, "qty_lo": 10, "qty_hi": 20},
        {"brand": "Brand#25", "size_hi": 35, "qty_lo": 20, "qty_hi": 30},
    )
}


def q19_disjunctive_filter(spark: SparkSession, sf_dir: str, p: dict = Q19_BASE) -> DataFrame:
    """Q19 shape — disjunction of conjunctive band predicates, one
    (brand, size, quantity) conjunction per band in ``p["bands"]``
    OR'ed left to right. The entire OR-of-ANDs stays a single
    scan-side filter (Catalyst pushes the common l_partkey join key
    and evaluates the residual disjunction in codegen — no
    union-of-scans rewrite needed)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = reduce(or_, (
        (F.col("p_brand") == b["brand"])
        & (F.col("p_size").between(1, b["size_hi"]))
        & (F.col("l_quantity").between(b["qty_lo"], b["qty_hi"]))
        for b in p["bands"]
    ))
    return j.filter(cond).agg(dsum(DISC_PRICE(), 6).alias("revenue"), F.count("*").alias("n_lines"))


def q19_sql(p: dict = Q19_BASE) -> str:
    bands = "\n   OR ".join(
        f"(p_brand = '{b['brand']}' AND p_size BETWEEN 1 AND {b['size_hi']}"
        f" AND l_quantity BETWEEN {b['qty_lo']} AND {b['qty_hi']})"
        for b in p["bands"]
    )
    return f"""
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {bands}
"""


ORACLES["q19_disjunctive_filter"] = q19_sql()


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape — the supplier who held up multi-supplier orders:
    per order, the unique latest-shipping supplier where at least one
    OTHER supplier shipped earlier. The original's EXISTS/NOT-EXISTS
    pair becomes two window aggregates over one shuffle of the fact —
    no self-joins."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    w = W.partitionBy("l_orderkey")
    per_line = li.select(
        "l_orderkey",
        "l_suppkey",
        "l_shipdate",
        F.max("l_shipdate").over(w).alias("max_ship"),
        F.min("l_shipdate").over(w).alias("min_ship"),
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supps"),
    )
    blockers = (
        per_line.filter(
            (F.col("n_supps") >= 2)
            & (F.col("l_shipdate") == F.col("max_ship"))
            & (F.col("min_ship") < F.col("max_ship"))
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
        # "uniquely latest": drop orders where two suppliers tie at max
        .withColumn("n_latest", F.count("*").over(W.partitionBy("l_orderkey")))
        .filter(F.col("n_latest") == 1)
    )
    return (
        blockers.join(supp, blockers.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


ORACLES["q21_waiting_supplier"] = """
WITH per_line AS (
  SELECT l_orderkey, l_suppkey, l_shipdate,
         MAX(l_shipdate) OVER (PARTITION BY l_orderkey) AS max_ship,
         MIN(l_shipdate) OVER (PARTITION BY l_orderkey) AS min_ship,
         COUNT(DISTINCT l_suppkey) OVER (PARTITION BY l_orderkey) AS n_supps
  FROM lineitem
),
blockers AS (
  SELECT l_orderkey, l_suppkey,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS n_latest
  FROM (SELECT DISTINCT l_orderkey, l_suppkey
        FROM per_line
        WHERE n_supps >= 2 AND l_shipdate = max_ship AND min_ship < max_ship)
)
SELECT s_name, COUNT(*) AS numwait
FROM blockers JOIN supplier ON l_suppkey = s_suppkey
WHERE n_latest = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 10
"""


Q12_BASE = {"year_lo": "1996-01-01", "year_hi": "1997-01-01", "high_prefixes": ("1", "2")}


def q12_priority_classes(spark: SparkSession, sf_dir: str, p: dict = Q12_BASE) -> DataFrame:
    """Q12 shape — two conditional counts after a fact-fact join:
    per line status, how many lines belong to high-priority orders
    (priority starting with one of ``p["high_prefixes"]``; urgent and
    high at the base) vs the rest (the original's shipmode column
    isn't in the testdata; order priority plays its role). One
    shuffle (the join), then a partial-aggregated CASE-WHEN count
    pair."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts(p["year_lo"]))
        & (F.col("l_shipdate") < _ts(p["year_hi"]))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.when(
        reduce(or_, (F.col("o_orderpriority").startswith(x) for x in p["high_prefixes"])),
        1,
    ).otherwise(0)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


def q12_sql(p: dict = Q12_BASE) -> str:
    high = " OR ".join(f"o_orderpriority LIKE '{x}%'" for x in p["high_prefixes"])
    return f"""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN {high}
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN {high}
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '{p["year_lo"]} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{p["year_hi"]} 00:00:00'
GROUP BY l_linestatus
"""


ORACLES["q12_priority_classes"] = q12_sql()


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape — count-of-counts over a LEFT OUTER join: orders per
    customer (customers with none count as 0 via the null-preserving
    outer join), then the distribution of those counts. Two
    aggregations; the outer join is the part a naive inner join gets
    wrong."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


ORACLES["q13_customer_distribution"] = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape — argmax over an aggregate (the original's revenue
    view + scalar-max subquery): per-supplier quarterly revenue, keep
    the supplier(s) whose revenue EQUALS the maximum. The max is a
    1-row aggregate broadcast back — no window over the whole table,
    no second scan of the fact."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(DISC_PRICE(), 6).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


ORACLES["q15_top_supplier"] = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape — a CHAIN of semi-joins with a grouped HAVING at the
    bottom: suppliers (in one nation) who shipped more than 30 units
    of some small part. Each IN-subquery becomes a left-semi join;
    the grouped inner aggregate runs on the fact once. No EXISTS
    nested-loop anywhere."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    li = load_table(spark, sf_dir, "lineitem")
    heavy = (
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 30)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey, "left_semi")
        .join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


ORACLES["q20_excess_shippers"] = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(l_quantity) > 30)
ORDER BY s_suppkey
"""


Q9_BASE = {"part_word": "bolt", "cost_rate": 0.6}


def q9_product_profit(spark: SparkSession, sf_dir: str, p: dict = Q9_BASE) -> DataFrame:
    """Q9 shape — product-type profit by nation and year: a 5-table
    join (lineitem ⋈ part ⋈ supplier ⋈ nation ⋈ orders) with a
    substring part filter and a per-row profit expression aggregated
    exactly. The testdata has no partsupp, so supply cost is proxied
    as 60% of the part's retail price per unit — the operator shape
    (multi-way star join + derived-measure agg) is what Q9 exercises,
    not the cost constant. The part filter lands scan-side
    (p_name LIKE '%bolt%' matches ~25% of parts); only nation is
    broadcast by hint — part/supplier scale with SF and are left to
    AQE."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like(f"%{p['part_word']}%"))
    profit = DISC_PRICE() - F.lit(p["cost_rate"]) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(part.select("p_partkey", "p_retailprice"), li.l_partkey == F.col("p_partkey"))
        .join(supp.select("s_suppkey", "s_nationkey"), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(dsum(profit, 6).alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


def q9_sql(p: dict = Q9_BASE) -> str:
    return f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     - {p["cost_rate"]} * p_retailprice * l_quantity
                AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
FROM lineitem JOIN part ON l_partkey = p_partkey
     JOIN supplier ON l_suppkey = s_suppkey
     JOIN nation ON s_nationkey = n_nationkey
     JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%{p["part_word"]}%'
GROUP BY 1, 2
ORDER BY nation ASC, o_year DESC
"""


ORACLES["q9_product_profit"] = q9_sql()


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape — grouped value per part vs a GLOBAL scalar
    threshold: revenue per part from one nation's suppliers, keeping
    parts above 0.1% of that nation's total. The original's partsupp
    value (supplycost×availqty) is proxied by lineitem revenue; the
    operator shape — one grouped aggregate + a 1-row global aggregate
    broadcast back as the HAVING threshold — is Q11's. The global
    total re-aggregates the per-part DECIMAL partials (decimal
    addition is associative, so sum-of-partials equals the direct
    sum bit-for-bit), which makes the two references share one
    canonical agg subtree: the static planner then reads lineitem
    ONCE (ReusedExchange, plan-asserted in tests/test_plans.py).
    Measured caveat: AQE's stage-level reuse does NOT fire on this
    scalar-threshold pattern and re-plans the subtree per reference
    (same engine trade q15 carries); the threshold compare is a
    1-row BroadcastNestedLoopJoin, not a cartesian."""
    from proceso_de_etl_spark.functions.columns import money

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    nat_supp = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey, "left_semi"
    ).select("s_suppkey")
    filtered = li.join(nat_supp, li.l_suppkey == F.col("s_suppkey"), "left_semi")
    per_part_dec = filtered.groupBy("l_partkey").agg(
        F.sum(money(DISC_PRICE(), 6)).alias("dec_value")
    )
    threshold = per_part_dec.agg(
        (F.sum("dec_value").cast("double") * F.lit(0.001)).alias("threshold")
    )
    return (
        per_part_dec.select("l_partkey", F.col("dec_value").cast("double").alias("part_value"))
        .crossJoin(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


ORACLES["q11_important_parts"] = """
WITH filtered AS (
  SELECT l_partkey, l_extendedprice, l_discount
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7')
),
per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS dec_value
  FROM filtered
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(dec_value AS DOUBLE) AS part_value
FROM per_part
WHERE CAST(dec_value AS DOUBLE)
    > (SELECT CAST(SUM(dec_value) AS DOUBLE) * 0.001 FROM per_part)
ORDER BY part_value DESC, l_partkey ASC
"""


QUERIES = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q8_market_share": q8_market_share,
    "q16_parts_supplier_cnt": q16_parts_supplier_cnt,
    "q19_disjunctive_filter": q19_disjunctive_filter,
    "q21_waiting_supplier": q21_waiting_supplier,
    "q12_priority_classes": q12_priority_classes,
    "q13_customer_distribution": q13_customer_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q20_excess_shippers": q20_excess_shippers,
    "q9_product_profit": q9_product_profit,
    "q11_important_parts": q11_important_parts,
}
