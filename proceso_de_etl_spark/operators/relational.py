"""Relational extras (SURVEY.md §2.2 A15-A22, A27-A28): multi-level
aggregation (rollup / cube / grouping sets), pivot / unpivot, set
operations, exact + approximate distincts, percentiles, and a
salted-join skew strategy.

Percentile outputs are rounded to 6 decimals on both engine and
oracle sides: interpolation arithmetic is the one place where two
engines legitimately differ in the last ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from proceso_de_etl_spark.functions.columns import dsum
from proceso_de_etl_spark.sources.catalog import load_table
from proceso_de_etl_spark.sources.local import local_frame

ORACLES: dict[str, str] = {}


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 — rollup (returnflag → linestatus → grand total)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty")
    )


ORACLES["agg_rollup"] = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 — cube over returnflag × linestatus."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_extendedprice").alias("sum_price")
    )


ORACLES["agg_cube"] = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A28 — explicit GROUPING SETS via the engine's SQL surface."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


ORACLES["agg_grouping_sets"] = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 — pivot linestatus into columns (values enumerated, so the
    plan needs no extra distinct-discovery pass — required at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_fulfilled")
    )


ORACLES["agg_pivot"] = """
SELECT l_returnflag,
       CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS qty_open,
       CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS qty_fulfilled
FROM lineitem
GROUP BY l_returnflag
"""


def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 — unpivot (melt) part measures into (metric, value) rows
    via ``stack`` — generated columnar-side, no Python."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.expr(
            "stack(2, 'retailprice', p_retailprice, 'size', CAST(p_size AS DOUBLE)) AS (metric, value)"
        ),
    )


ORACLES["agg_unpivot"] = """
SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
UNION ALL
SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
"""


def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 — set operations on yearly buyer sets: INTERSECT (bought in
    both 1996 and 1997) and EXCEPT (1996 but not 1998), tagged and
    unioned into one result."""
    orders = load_table(spark, sf_dir, "orders")

    def buyers(year: int) -> DataFrame:
        return orders.filter(F.year("o_orderdate") == year).select(
            F.col("o_custkey").alias("custkey")
        ).distinct()

    both = buyers(1996).intersect(buyers(1997)).withColumn("tag", F.lit("in_96_and_97"))
    only = buyers(1996).exceptAll(buyers(1998)).withColumn("tag", F.lit("in_96_not_98"))
    return both.unionByName(only)


ORACLES["set_ops_customers"] = """
SELECT custkey, 'in_96_and_97' AS tag FROM (
  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997
)
UNION ALL
SELECT custkey, 'in_96_not_98' FROM (
  SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
  EXCEPT
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998
)
"""


def agg_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 — exact distinct counts per group (expand + two-phase agg
    under the hood; the approximate sketch variant is agg_approx)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


ORACLES["agg_distinct_exact"] = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 — sketch-based aggregates (HLL distinct, quantile sketch).
    Rows-only check: sketches are engine-specific by design; the exact
    twins (agg_distinct_exact / agg_percentiles) carry the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
    )


# agg_approx_bound gate constants. The HLL++ rsd default is 0.05 (one
# standard error); 3x that is the flag-it threshold — a sketch whose
# estimate strays past 3σ is either broken or misconfigured, which is
# exactly what this key exists to catch. The quantile-sketch rank
# tolerance is 10x percentile_approx's nominal 1/accuracy (1/10000)
# rank error, +1 row to absorb parity at small n.
APPROX_DISTINCT_REL_BOUND = 0.15
APPROX_MEDIAN_RANK_EPS = 0.001


def agg_approx_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 companion (r7 verdict item 7, the ST9/ST9e two-key
    pattern): ``agg_approx`` stays rows-only — its sketch ESTIMATES
    are engine-internal — but the estimates' ERROR BOUNDS are exact,
    checkable VALUES. Per return flag this emits the exact counts
    plus two booleans: the HLL distinct estimate within
    APPROX_DISTINCT_REL_BOUND of the exact count, and the approx
    median's RANK within APPROX_MEDIAN_RANK_EPS·n of n/2 (rank-space,
    not value-space — the quantile sketch's actual guarantee; the
    returned value v occupies ranks (count<v, count≤v], and some rank
    in that interval must sit within tolerance of the target). The
    oracle computes the same exact counts and pins both booleans TRUE,
    so a sketch regression becomes a driver-visible value mismatch.

    Scale: the exact/approx aggregates ride one scan; the rank
    check is a second scan joined against the 3-row broadcast
    summary — both keyed by the group, no new shuffle shape."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("am"),
    )
    ranks = (
        li.join(F.broadcast(s.select("l_returnflag", "am")), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(F.col("l_extendedprice") <= F.col("am"), 1).otherwise(0)).alias("rank_le"),
            F.sum(F.when(F.col("l_extendedprice") < F.col("am"), 1).otherwise(0)).alias("rank_lt"),
        )
    )
    tol = APPROX_MEDIAN_RANK_EPS * F.col("n_rows") + 1
    target = 0.5 * F.col("n_rows")
    return (
        s.join(ranks, "l_returnflag")
        .select(
            "l_returnflag",
            "n_rows",
            "n_parts",
            (
                F.abs(F.col("approx_parts") - F.col("n_parts"))
                <= F.lit(APPROX_DISTINCT_REL_BOUND) * F.col("n_parts")
            ).alias("distinct_within_bound"),
            (
                (F.col("rank_lt") < target + tol) & (F.col("rank_le") >= target - tol)
            ).alias("median_rank_within_bound"),
        )
        .orderBy("l_returnflag")
    )


ORACLES["agg_approx_bound"] = """
SELECT l_returnflag, COUNT(*) AS n_rows,
       COUNT(DISTINCT l_partkey) AS n_parts,
       TRUE AS distinct_within_bound,
       TRUE AS median_rank_within_bound
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22 — exact interpolated percentiles of event values per type
    (rounded to 6dp on both sides — see module docstring)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.25), 6).alias("p25"),
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.75), 6).alias("p75"),
    )


ORACLES["agg_percentiles"] = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.50), 6) AS p50,
       ROUND(quantile_cont(value, 0.75), 6) AS p75
FROM events
GROUP BY event_type
"""


def salted_join(fact: DataFrame, dim: DataFrame, key: str, salt_col, n_salts: int = 8) -> DataFrame:
    """A27 — skew-mitigating SHUFFLE join: replicate the dim side
    across ``n_salts`` shards and split the hot fact key by a
    deterministic salt, so one hot key's rows spread over n_salts
    reducers instead of melting one. Deliberately NOT broadcast —
    salting exists precisely for the regime where the dim is too big
    to broadcast but a hot fact key overwhelms a single shuffle
    partition (when the dim fits in memory you broadcast and skip
    salting entirely; AQE's skew-join covers moderate skew — this is
    the explicit strategy for known-pathological keys)."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("__salt")
    dim_rep = dim.select("*", salts)
    fact_s = fact.withColumn("__salt", salt_col % n_salts)
    return fact_s.join(dim_rep, [key, "__salt"]).drop("__salt")


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join of events against the per-type dimension; result
    provably equals the plain join (the oracle computes it un-salted).
    """
    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.groupBy("event_type").agg(F.count("*").alias("type_total"))
    )
    joined = salted_join(ev, dim, "event_type", F.col("event_id"), 8)
    return joined.groupBy("event_type", "type_total").agg(
        F.count("*").alias("n"), dsum(F.col("value"), 6).alias("value_sum")
    )


ORACLES["skew_salted_join"] = """
WITH dim AS (SELECT event_type, COUNT(*) AS type_total FROM events GROUP BY event_type)
SELECT e.event_type, d.type_total, COUNT(*) AS n,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type, d.type_total
"""

def scalar_function_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function parity matrix: one projection exercising the
    date / string / numeric / conditional scalar surface a reference
    user relies on, value-checked cross-engine. Types are pinned with
    casts where engines' natural return types differ (ceil/floor)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).cast("bigint").alias("days_since_epoch_start"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.quarter("o_orderdate").cast("bigint").alias("qtr"),
        F.dayofweek("o_orderdate").cast("bigint").alias("dow"),
        F.upper(F.substring("o_orderpriority", 3, 20)).alias("priority_word"),
        F.concat_ws("-", "o_orderstatus", F.lower("o_orderpriority")).alias("status_tag"),
        F.length("o_orderpriority").cast("bigint").alias("prio_len"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias("status_or_open"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("abs_delta"),
        F.ceil(F.col("o_totalprice") / 1000.0).cast("bigint").alias("price_band"),
        F.floor(F.col("o_totalprice") / 1000.0).cast("bigint").alias("price_floor"),
        (F.col("o_orderkey") % 7).cast("bigint").alias("mod7"),
        F.round(F.sqrt(F.col("o_totalprice")), 6).alias("sqrt_price"),
        F.when(F.col("o_totalprice") > 200000.0, "big").otherwise("small").alias("size_class"),
    )


ORACLES["scalar_function_matrix"] = """
SELECT o_orderkey,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since_epoch_start,
       CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
       upper(substring(o_orderpriority, 3, 20)) AS priority_word,
       concat_ws('-', o_orderstatus, lower(o_orderpriority)) AS status_tag,
       CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
       abs(o_totalprice - 100000.0) AS abs_delta,
       CAST(ceil(o_totalprice / 1000.0) AS BIGINT) AS price_band,
       CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS price_floor,
       CAST(o_orderkey % 7 AS BIGINT) AS mod7,
       ROUND(sqrt(o_totalprice), 6) AS sqrt_price,
       CASE WHEN o_totalprice > 200000.0 THEN 'big' ELSE 'small' END AS size_class
FROM orders
"""


def array_function_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order-function parity matrix: sort, slice,
    distinct, membership, filter, fold — computed over a
    deterministic integer array derived from doc_id so every engine
    sees identical inputs."""
    docs = load_table(spark, sf_dir, "documents")
    arr = F.array(
        (F.col("doc_id") % 5).cast("bigint"),
        (F.col("doc_id") % 3).cast("bigint"),
        (F.col("doc_id") % 7).cast("bigint"),
        F.lit(2).cast("bigint"),
    )
    staged = docs.select("doc_id", arr.alias("arr"))
    a = F.col("arr")
    # array outputs serialize as strings: clients materialize array
    # columns as list OR numpy array depending on Arrow settings,
    # which breaks value comparison at the harness layer
    return staged.select(
        "doc_id",
        F.array_join(F.sort_array(a), ",").alias("sorted_asc"),
        F.array_join(F.sort_array(a, asc=False), ",").alias("sorted_desc"),
        F.array_join(F.slice(a, 2, 2), ",").alias("middle_two"),
        F.size(F.array_distinct(a)).cast("bigint").alias("n_distinct"),
        F.array_contains(a, F.lit(2)).alias("has_two"),
        F.size(F.filter(a, lambda x: x > 2)).cast("bigint").alias("n_gt2"),
        F.aggregate(a, F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias("arr_sum"),
        F.array_max(a).alias("arr_max"),
        F.array_position(a, F.lit(2)).cast("bigint").alias("first_two_pos"),
    )


ORACLES["array_function_matrix"] = """
WITH staged AS (
  SELECT doc_id,
         [CAST(doc_id % 5 AS BIGINT), CAST(doc_id % 3 AS BIGINT),
          CAST(doc_id % 7 AS BIGINT), CAST(2 AS BIGINT)] AS arr
  FROM documents
)
SELECT doc_id,
       array_to_string(list_sort(arr, 'ASC'), ',') AS sorted_asc,
       array_to_string(list_sort(arr, 'DESC'), ',') AS sorted_desc,
       array_to_string(arr[2:3], ',') AS middle_two,
       CAST(len(list_distinct(arr)) AS BIGINT) AS n_distinct,
       list_contains(arr, 2) AS has_two,
       CAST(len(list_filter(arr, x -> x > 2)) AS BIGINT) AS n_gt2,
       CAST(list_sum(arr) AS BIGINT) AS arr_sum,
       list_max(arr) AS arr_max,
       CAST(COALESCE(list_position(arr, 2), 0) AS BIGINT) AS first_two_pos
FROM staged
"""


def null_semantics_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics parity: aggregates over induced nulls, null-safe
    equality, and three-valued logic — where engines classically
    diverge. Nulls are induced deterministically (NULLIF patterns)
    so both engines see identical null sets."""
    li = load_table(spark, sf_dir, "lineitem")
    staged = li.select(
        "l_returnflag",
        F.nullif(F.col("l_discount"), F.lit(0.0)).alias("d"),
        F.nullif(F.col("l_linestatus"), F.lit("F")).alias("s"),
        F.col("l_quantity"),
    )
    return staged.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.count("d").alias("n_nonnull_d"),
        F.count("s").alias("n_nonnull_s"),
        F.sum(F.col("d").cast("decimal(18,6)")).cast("double").alias("sum_d_ignoring_nulls"),
        F.min("d").alias("min_d"),
        F.max("s").alias("max_s"),
        F.sum(F.when(F.col("d").eqNullSafe(F.lit(None).cast("double")), 1).otherwise(0)).alias("n_nullsafe_eq_null"),
        F.sum(F.when(F.col("d") > 0.05, 1).when(~(F.col("d") > 0.05), 0).otherwise(-1)).alias("three_valued_tally"),
    )


ORACLES["null_semantics_matrix"] = """
WITH staged AS (
  SELECT l_returnflag,
         NULLIF(l_discount, 0.0) AS d,
         NULLIF(l_linestatus, 'F') AS s,
         l_quantity
  FROM lineitem
)
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       COUNT(d) AS n_nonnull_d,
       COUNT(s) AS n_nonnull_s,
       CAST(SUM(CAST(d AS DECIMAL(18,6))) AS DOUBLE) AS sum_d_ignoring_nulls,
       MIN(d) AS min_d,
       MAX(s) AS max_s,
       CAST(SUM(CASE WHEN d IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq_null,
       CAST(SUM(CASE WHEN d > 0.05 THEN 1
                     WHEN NOT (d > 0.05) THEN 0
                     ELSE -1 END) AS BIGINT) AS three_valued_tally
FROM staged
GROUP BY l_returnflag
"""


# Ordered so the entries the round-1 driver gate never reached come
# first (the gate consumes queries() in registration order and may
# truncate; everything below agg_grouping_sets was cut in r1).
def agg_stats_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A37 — statistical aggregates (variance, stddev, covariance,
    correlation) per group, ENGINE-EXACT: the built-in var/corr aggs
    stream (Welford / merge formulas) and their last ulps depend on
    partition order and engine, so instead the raw moments n, Σx,
    Σx², Σy, Σy², Σxy are accumulated in DECIMAL (order-independent,
    bit-identical anywhere — columns.py dsum note) and the textbook
    formulas are applied to those six exact scalars. sqrt is
    IEEE-correctly-rounded in every engine, so the derived values
    match bit-for-bit before the final 6dp rounding. One partial-agg
    shuffle, same cost shape as any groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_extendedprice"), F.col("l_quantity")
    base = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        dsum(x, 2).alias("sx"),
        dsum(x * x, 4).alias("sxx"),
        dsum(y, 2).alias("sy"),
        dsum(y * y, 4).alias("syy"),
        dsum(x * y, 4).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    cx = sxx - sx * sx / n
    cy = syy - sy * sy / n
    cxy = sxy - sx * sy / n
    return base.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(cx / (n - 1), 6).alias("var_price"),
        F.round(F.sqrt(cx / (n - 1)), 6).alias("std_price"),
        F.round(cxy / (n - 1), 6).alias("covar_price_qty"),
        F.round(cxy / F.sqrt(cx * cy), 6).alias("corr_price_qty"),
    ).orderBy("l_returnflag")


ORACLES["agg_stats_matrix"] = """
WITH base AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       ROUND((sxx - sx * sx / n) / (n - 1), 6) AS var_price,
       ROUND(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS std_price,
       ROUND((sxy - sx * sy / n) / (n - 1), 6) AS covar_price_qty,
       ROUND((sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS corr_price_qty
FROM base
ORDER BY l_returnflag
"""


def join_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A38 — join-semantics parity matrix, completing the scalar/
    array/null matrices: every join type the engine serves (inner,
    left, right, full outer, left semi, left anti, and null-safe
    equality) over the same probe pair — customers vs their 1996
    order counts, where some customers have no orders (null-extension
    observable) and a planted NULL key on both sides separates `=`
    from `<=>`. Each type reports matched-row count and a checksummed
    key sum, so a wrong null-extension or dropped row moves a value,
    not just a count."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.when(F.col("c_custkey") % 97 == 0, F.lit(None)).otherwise(F.col("c_custkey")).alias("ck")
    )
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1996)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .select(
            F.when(F.col("o_custkey") % 89 == 0, F.lit(None)).otherwise(F.col("o_custkey")).alias("ok"),
            "n_orders",
        )
    )

    def probe(label: str, how: str, null_safe: bool = False) -> DataFrame:
        cond = cust.ck.eqNullSafe(ords.ok) if null_safe else cust.ck == ords.ok
        j = cust.join(ords, cond, how)
        cols = [F.count("*").alias("n_rows"), F.sum(F.coalesce("ck", F.lit(-1))).alias("key_sum")]
        if how not in ("left_semi", "left_anti"):
            cols.append(F.sum(F.coalesce("n_orders", F.lit(0))).alias("order_sum"))
        else:
            cols.append(F.lit(None).cast("bigint").alias("order_sum"))
        return j.agg(*cols).select(
            F.lit(label).alias("join_type"), "n_rows", "key_sum", "order_sum"
        )

    out = None
    for label, how, ns in (
        ("inner", "inner", False),
        ("left", "left", False),
        ("right", "right", False),
        ("full", "full", False),
        ("semi", "left_semi", False),
        ("anti", "left_anti", False),
        ("null_safe_inner", "inner", True),
    ):
        piece = probe(label, how, ns)
        out = piece if out is None else out.unionByName(piece)
    return out.orderBy("join_type")


ORACLES["join_type_matrix"] = """
WITH cust AS (
  SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_custkey END AS ck
  FROM customer
),
ords AS (
  SELECT CASE WHEN o_custkey % 89 = 0 THEN NULL ELSE o_custkey END AS ok, n_orders
  FROM (SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        WHERE year(o_orderdate) = 1996 GROUP BY o_custkey)
)
SELECT 'inner' AS join_type, COUNT(*) AS n_rows,
       CAST(SUM(COALESCE(ck, -1)) AS BIGINT) AS key_sum,
       CAST(SUM(COALESCE(n_orders, 0)) AS BIGINT) AS order_sum
FROM cust JOIN ords ON ck = ok
UNION ALL
SELECT 'left', COUNT(*), CAST(SUM(COALESCE(ck, -1)) AS BIGINT), CAST(SUM(COALESCE(n_orders, 0)) AS BIGINT)
FROM cust LEFT JOIN ords ON ck = ok
UNION ALL
SELECT 'right', COUNT(*), CAST(SUM(COALESCE(ck, -1)) AS BIGINT), CAST(SUM(COALESCE(n_orders, 0)) AS BIGINT)
FROM cust RIGHT JOIN ords ON ck = ok
UNION ALL
SELECT 'full', COUNT(*), CAST(SUM(COALESCE(ck, -1)) AS BIGINT), CAST(SUM(COALESCE(n_orders, 0)) AS BIGINT)
FROM cust FULL OUTER JOIN ords ON ck = ok
UNION ALL
SELECT 'semi', COUNT(*), CAST(SUM(COALESCE(ck, -1)) AS BIGINT), CAST(NULL AS BIGINT)
FROM cust WHERE EXISTS (SELECT 1 FROM ords WHERE ck = ok)
UNION ALL
SELECT 'anti', COUNT(*), CAST(SUM(COALESCE(ck, -1)) AS BIGINT), CAST(NULL AS BIGINT)
FROM cust WHERE NOT EXISTS (SELECT 1 FROM ords WHERE ck = ok)
UNION ALL
SELECT 'null_safe_inner', COUNT(*), CAST(SUM(COALESCE(ck, -1)) AS BIGINT), CAST(SUM(COALESCE(n_orders, 0)) AS BIGINT)
FROM cust JOIN ords ON ck IS NOT DISTINCT FROM ok
ORDER BY join_type
"""


HIST_LO, HIST_HI, HIST_BINS = 0.0, 500_000.0, 20


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A40 — equal-width histogram of order totals: the numeric
    profiling primitive behind every data-quality dashboard, as one
    scan-side bucket expression + one aggregation (bounds are fixed
    domain constants, so no extra min/max pass; for unknown domains
    compose with E16's profiler or the KLL sketch A34). Bucket
    arithmetic is floor((x-lo)/width) clamped to the last bin —
    plain IEEE ops, bit-identical cross-engine; per-bin bounds are
    emitted so the result is self-describing."""
    orders = load_table(spark, sf_dir, "orders")
    width = (HIST_HI - HIST_LO) / HIST_BINS
    bucket = F.least(
        F.lit(HIST_BINS - 1),
        F.floor((F.col("o_totalprice") - F.lit(HIST_LO)) / F.lit(width)),
    ).cast("int")
    return (
        orders.groupBy(bucket.alias("bin"))
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("sum_total"))
        .withColumn("bin_lo", F.col("bin") * F.lit(width) + F.lit(HIST_LO))
        .withColumn("bin_hi", (F.col("bin") + 1) * F.lit(width) + F.lit(HIST_LO))
        .select("bin", "bin_lo", "bin_hi", "n", "sum_total")
        .orderBy("bin")
    )


ORACLES["agg_histogram"] = f"""
SELECT LEAST({HIST_BINS - 1},
             CAST(FLOOR((o_totalprice - {HIST_LO}) / {(HIST_HI - HIST_LO) / HIST_BINS}) AS INT)) AS bin,
       LEAST({HIST_BINS - 1},
             CAST(FLOOR((o_totalprice - {HIST_LO}) / {(HIST_HI - HIST_LO) / HIST_BINS}) AS INT))
         * {(HIST_HI - HIST_LO) / HIST_BINS} + {HIST_LO} AS bin_lo,
       (LEAST({HIST_BINS - 1},
              CAST(FLOOR((o_totalprice - {HIST_LO}) / {(HIST_HI - HIST_LO) / HIST_BINS}) AS INT)) + 1)
         * {(HIST_HI - HIST_LO) / HIST_BINS} + {HIST_LO} AS bin_hi,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders
GROUP BY 1, 2, 3
ORDER BY bin
"""


SORT_RANK_PARTITIONS = 32


def sort_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A41 — distributed global ranking (total-order row numbers)
    without the single-partition window trap: ``row_number() OVER
    (ORDER BY ...)`` funnels every row through ONE task, the classic
    100 TB sort-killer. Instead: (1) range-partition on the sort key
    (sampled range exchange — Spark's own TakeOrderedAndProject /
    global-sort machinery), (2) rank WITHIN each range partition,
    (3) add each partition's cumulative row-count offset, computed
    from a tiny per-partition count aggregate (``SORT_RANK_
    PARTITIONS`` rows collected to the driver — bounded, not a data
    collect) and shipped back as a broadcast join. One wide exchange
    total, perfectly parallel, identical output to the one-task
    window. Tie-break on the unique o_orderkey makes the total order
    — and therefore the rank column — deterministic cross-engine."""
    orders = load_table(spark, sf_dir, "orders")
    key = [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]
    ranked, _ = global_rank_frame(orders, key)
    return ranked.select("rank", "o_orderkey", "o_custkey", "o_totalprice")


def global_rank_frame(
    df: DataFrame, key, partitions: int | None = None, rank_col: str = "rank"
):
    """The scale-safe total-order core shared by A41/A60: range-
    partition on the sort key, rank within each range partition, add
    broadcast cumulative offsets. Returns (ranked df, total rows).

    repartitionByRange estimates range bounds by SAMPLING with a
    per-execution seed, so the partitioning MUST be pinned via
    persist(): the count action below materializes the exact
    partitions the rank job reuses. Unpersisted, the two jobs could
    sample different bounds — broadcast offsets would mismatch real
    partition sizes (duplicate/missing ranks) and rows landing in a
    _pid empty during the count job would be dropped by the inner
    join. Persisting also removes the double source scan. The
    per-partition count aggregate collects `partitions` rows to the
    driver — bounded, not a data collect."""
    from pyspark.sql import Window as W

    spark = df.sparkSession
    ranged = (
        df.repartitionByRange(partitions or SORT_RANK_PARTITIONS, *key)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = {}, 0
    for pid, n in counts:
        offsets[pid] = acc
        acc += n
    offs = local_frame(
        spark,
        [(pid, off) for pid, off in offsets.items()], "_pid int, _offset long"
    )
    w = W.partitionBy("_pid").orderBy(*key)
    ranked = (
        ranged.join(F.broadcast(offs), "_pid")
        .withColumn(rank_col, F.row_number().over(w) + F.col("_offset"))
        .drop("_pid", "_offset")
    )
    return ranked, acc


EQUIDEPTH_BINS = 8


def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A60 — exact equi-depth (equal-height) histogram of order
    totals: bin = ((rank − 1) · B) div N over the deterministic total
    order (tie-break o_orderkey), so every bin holds N/B ± 1 rows and
    the per-bin [lo, hi] bounds are true quantile cutpoints. The
    equal-WIDTH histogram (A40) answers "how is the value range
    populated"; equi-depth answers "where do the quantile boundaries
    fall" — the form optimizers use for selectivity estimation.

    NTILE over a global ORDER BY — the textbook formulation — funnels
    the corpus through one task; this runs on the shared range-
    partition + broadcast-offset core (global_rank_frame, A41), one
    wide exchange, perfectly parallel. Integer (rank·B) div N
    arithmetic is engine-exact, so bin assignment is bit-identical to
    the oracle's window formulation. At 100 TB, when ± 1-row
    exactness is not required, the KLL sketch (A34) gives the same
    cutpoints in one narrow pass."""
    orders = load_table(spark, sf_dir, "orders")
    key = [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()]
    ranked, total = global_rank_frame(orders.select("o_orderkey", "o_totalprice"), key)
    return (
        ranked.groupBy(
            F.expr(f"CAST(((rank - 1) * {EQUIDEPTH_BINS}) div {total} AS INT)").alias("bin")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dsum("o_totalprice").alias("sum_total"),
        )
        .orderBy("bin")
    )


ORACLES["agg_equidepth_histogram"] = f"""
WITH ranked AS (
  SELECT o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS rk,
         COUNT(*) OVER () AS n
  FROM orders
)
SELECT CAST(((rk - 1) * {EQUIDEPTH_BINS}) // n AS INT) AS bin,
       COUNT(*) AS n_rows, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM ranked
GROUP BY 1
ORDER BY 1
"""


ORACLES["sort_global_rank"] = """
SELECT ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank,
       o_orderkey, o_custkey, o_totalprice
FROM orders
"""


def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A42 — deterministic per-group mode (most frequent value, ties
    broken by smallest value): count-then-rank, the scalable mode
    formulation — two key-local aggregations, no collect_list of the
    group's raw rows. Here: each user's modal event type."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    counted = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = W.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), F.col("n").alias("n_modal"))
    )


ORACLES["agg_mode_per_group"] = """
WITH counted AS (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events GROUP BY user_id, event_type
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rk
  FROM counted
)
SELECT user_id, event_type AS modal_type, n AS n_modal
FROM ranked WHERE rk = 1
"""


def recursive_cte_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A46 — recursive CTE (Spark 4 `WITH RECURSIVE`): transitive
    closure over a synthesized customer forest (parent(k) =
    floor(k/10), roots are keys < 10 — parents always exist because
    the key space is dense), rolled up to per-depth accounting with
    root checksums. The iterative-join pattern the engine previously
    had to hand-write (T4b's connected-components loop with manual
    localCheckpoint) is here declared in one statement and executed
    by the engine's own recursion machinery — bounded at
    log10(max_key) ≈ 6 distributed join iterations, no driver loop.
    DuckDB runs the identical statement, so this is value-oracled;
    floor(k/10.0) is spelled portably (integer `/` differs between
    the engines)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_rec_src")
    return spark.sql(_RECURSIVE_SQL.format(table="customer_rec_src"))


_RECURSIVE_SQL = """
WITH RECURSIVE anc AS (
  SELECT c_custkey AS node, c_custkey AS root, 0 AS depth
  FROM {table} WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, a.root, a.depth + 1
  FROM {table} c JOIN anc a
    ON CAST(FLOOR(c.c_custkey / 10.0) AS BIGINT) = a.node
  WHERE c.c_custkey >= 10
)
SELECT depth, COUNT(*) AS n_nodes,
       CAST(SUM(node) AS BIGINT) AS node_checksum,
       CAST(SUM(root) AS BIGINT) AS root_checksum
FROM anc
GROUP BY depth
ORDER BY depth
"""

ORACLES["recursive_cte_closure"] = _RECURSIVE_SQL.format(table="customer")


def agg_argmax_no_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A48 — per-group argmax as an AGGREGATE, not a window: the
    top-1-per-group formulation that scales past A11's row_number.
    ``max(struct(ord, payload))`` is an algebraic aggregate — each
    task combines map-side and ONE candidate row per group per task
    crosses the shuffle — while a rank window must shuffle and sort
    EVERY row of every group first. Same answer, different cost
    class; the struct's field order (price, then negated partkey)
    encodes the tie-break, so the argmax is deterministic where a
    bare max_by is not. Partial aggregation is plan-asserted in
    test_plans. Here: each brand's most expensive part."""
    part = load_table(spark, sf_dir, "part")
    best = part.groupBy("p_brand").agg(
        F.max(
            F.struct(
                F.col("p_retailprice").alias("price"),
                (-F.col("p_partkey")).alias("negkey"),
            )
        ).alias("b")
    )
    return best.select(
        "p_brand",
        F.col("b.price").alias("top_price"),
        (-F.col("b.negkey")).cast("bigint").alias("top_partkey"),
    ).orderBy("p_brand")


ORACLES["agg_argmax_no_window"] = """
SELECT p_brand, p_retailprice AS top_price, p_partkey AS top_partkey
FROM (SELECT p_brand, p_retailprice, p_partkey,
             row_number() OVER (PARTITION BY p_brand
                 ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
      FROM part)
WHERE rk = 1
ORDER BY p_brand
"""


def interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A49 — overlapping-interval merge (gaps-and-islands over true
    intervals): per supplier, coalesce in-transit windows
    [ship_start, ship_end] into maximal merged spans and report
    coverage. The interval end is derived deterministically
    (ship date + 1..20 days keyed on quantity — the testdata carries
    no receipt date). Distinct from A23's point-gap sessionization:
    intervals OVERLAP, so "new island" is decided against the running
    maximum of all PRIOR interval ends (an exclusive-frame cummax
    window), not against the previous row — interval k can be
    swallowed by an interval that started many rows earlier.
    Touching intervals (start == prior max end) merge.

    Scale shape: one shuffle on l_suppkey (high cardinality, no
    global window); the island rollup groups by (l_suppkey, island)
    and the final per-supplier rollup by l_suppkey — both satisfied
    by the window's hash partitioning, so Catalyst plans ZERO
    additional exchanges after the window sort. Reference analogue:
    the per-entity date-range consolidation the pandas script does
    row-at-a-time (main.py groupby-apply shape)."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    staged = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.to_date("l_shipdate").alias("ship_start"),
        F.date_add(
            F.to_date("l_shipdate"), F.col("l_quantity").cast("int") % 20 + 1
        ).alias("ship_end"),
    )
    islands = merge_interval_islands(
        staged,
        key="l_suppkey",
        start="ship_start",
        end="ship_end",
        tiebreak=["l_orderkey", "l_linenumber"],
    )
    day_span = F.datediff("island_end", "island_start") + F.lit(1)
    return islands.groupBy("l_suppkey").agg(
        F.sum("n_intervals").cast("bigint").alias("n_intervals"),
        F.count("*").alias("n_islands"),
        F.sum(day_span).cast("bigint").alias("covered_days"),
        F.max(day_span).cast("bigint").alias("max_island_days"),
    )


def merge_interval_islands(
    df: DataFrame, key: str, start: str, end: str, tiebreak: list[str]
) -> DataFrame:
    """Core of A49, reusable over any (key, [start, end]) interval
    table: one keyed window pass tags island breaks against the
    running max of all PRIOR interval ends (exclusive frame), a
    cumsum numbers the islands, and a keyed rollup emits one row per
    merged island: (key, island, island_start, island_end,
    n_intervals). Property-tested against a pure-Python sweep in
    tests/test_properties.py."""
    from pyspark.sql import Window as W

    order = [F.asc(start), F.asc(end)] + [F.asc(c) for c in tiebreak]
    w_prev = W.partitionBy(key).orderBy(*order).rowsBetween(W.unboundedPreceding, -1)
    w_run = W.partitionBy(key).orderBy(*order).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    staged = df.withColumn("prev_max_end", F.max(end).over(w_prev))
    new_island = F.when(
        F.col("prev_max_end").isNull() | (F.col(start) > F.col("prev_max_end")), 1
    ).otherwise(0)
    return (
        staged.withColumn("island", F.sum(new_island).over(w_run))
        .groupBy(key, "island")
        .agg(
            F.min(start).alias("island_start"),
            F.max(end).alias("island_end"),
            F.count("*").alias("n_intervals"),
        )
    )


ORACLES["interval_islands"] = """
WITH ivals AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         CAST(l_shipdate AS DATE) AS ship_start,
         CAST(l_shipdate AS DATE)
           + to_days((CAST(l_quantity AS INT) % 20) + 1) AS ship_end
  FROM lineitem
),
staged AS (
  SELECT *, MAX(ship_end) OVER (
           PARTITION BY l_suppkey
           ORDER BY ship_start, ship_end, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
  FROM ivals
),
tagged AS (
  SELECT *, SUM(CASE WHEN prev_max_end IS NULL
                       OR ship_start > prev_max_end THEN 1 ELSE 0 END)
              OVER (PARTITION BY l_suppkey
                    ORDER BY ship_start, ship_end, l_orderkey, l_linenumber
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM staged
),
islands AS (
  SELECT l_suppkey, island,
         MIN(ship_start) AS island_start,
         MAX(ship_end) AS island_end,
         COUNT(*) AS n_intervals
  FROM tagged GROUP BY l_suppkey, island
)
SELECT l_suppkey,
       CAST(SUM(n_intervals) AS BIGINT) AS n_intervals,
       COUNT(*) AS n_islands,
       CAST(SUM(date_diff('day', island_start, island_end) + 1) AS BIGINT) AS covered_days,
       CAST(MAX(date_diff('day', island_start, island_end) + 1) AS BIGINT) AS max_island_days
FROM islands
GROUP BY l_suppkey
"""


SKEW_TOPK = 10


def skew_key_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A51 — join-key skew diagnostics: the measurement step that
    decides WHEN A27's salting / AQE skew handling is worth its cost.
    One pass builds the per-key frequency table (orders per customer);
    from it: the ``SKEW_TOPK`` heaviest keys with their share of all
    rows, and corpus-level shape stats (skew ratio max/avg, exact p50
    and p99 of per-key counts) attached to every row so the output is
    a self-contained report. Key-table aggregations are key-hashed;
    the shape stats reduce the KEY table (not the fact table) to one
    broadcast row; top-k rides TakeOrderedAndProject — nothing
    funnels fact-table rows through one task."""
    orders = load_table(spark, sf_dir, "orders")
    from proceso_de_etl_spark.operators.windows import ranked_topk

    per_key = orders.groupBy("o_custkey").agg(F.count("*").alias("n"))
    shape = per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").cast("bigint").alias("total_rows"),
        F.max("n").alias("max_n"),
        F.round(F.max("n") / F.avg("n"), 6).alias("skew_ratio"),
        F.round(F.percentile(F.col("n"), F.lit(0.5)), 6).alias("p50_n"),
        F.round(F.percentile(F.col("n"), F.lit(0.99)), 6).alias("p99_n"),
    )
    top = ranked_topk(per_key, [F.desc("n"), F.asc("o_custkey")], SKEW_TOPK)
    return top.join(F.broadcast(shape)).select(
        "rank",
        F.col("o_custkey").alias("key"),
        "n",
        F.round(F.col("n") / F.col("total_rows"), 6).alias("share"),
        "n_keys",
        "total_rows",
        "max_n",
        "skew_ratio",
        "p50_n",
        "p99_n",
    )


ORACLES["skew_key_diagnostics"] = f"""
WITH per_key AS (
  SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
),
shape AS (
  SELECT COUNT(*) AS n_keys,
         CAST(SUM(n) AS BIGINT) AS total_rows,
         MAX(n) AS max_n,
         ROUND(MAX(n) / AVG(n), 6) AS skew_ratio,
         ROUND(quantile_cont(n, 0.5), 6) AS p50_n,
         ROUND(quantile_cont(n, 0.99), 6) AS p99_n
  FROM per_key
),
top AS (
  SELECT CAST(row_number() OVER (ORDER BY n DESC, o_custkey ASC) AS BIGINT) AS rank,
         o_custkey, n
  FROM per_key
  QUALIFY rank <= {SKEW_TOPK}
)
SELECT t.rank, t.o_custkey AS key, t.n,
       ROUND(t.n / s.total_rows, 6) AS share,
       s.n_keys, s.total_rows, s.max_n, s.skew_ratio, s.p50_n, s.p99_n
FROM top t CROSS JOIN shape s
"""


def agg_filter_clause_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A52 — SQL `FILTER (WHERE ...)` aggregate modifier parity: the
    ANSI form of conditional aggregation (COUNT/SUM/AVG/MIN with
    per-aggregate predicates in ONE pass over the fact — the
    CASE-WHEN-less spelling BI generators emit). Same statement runs
    on both engines; the planner folds every filtered aggregate into
    the one hash aggregate, so cost is one scan regardless of how
    many filters appear. Null-producing case included (SUM whose
    filter matches nothing per group → NULL; COUNT would give 0)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_fc")
    return spark.sql(_FILTER_SQL.format(table="lineitem_fc"))


_FILTER_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n_all,
       COUNT(*) FILTER (WHERE l_quantity > 45) AS n_bulk,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
            FILTER (WHERE l_discount >= 0.05) AS DOUBLE) AS discounted_price,
       MIN(l_shipdate) FILTER (WHERE l_linestatus = 'O') AS first_open_ship,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
            FILTER (WHERE l_quantity > 9000) AS DOUBLE) AS sum_impossible
FROM {table}
GROUP BY l_returnflag
"""

ORACLES["agg_filter_clause_matrix"] = _FILTER_SQL.format(table="lineitem")


def lateral_explode_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A53 — LATERAL VIEW / table-generating-function parity, the
    corner cases generators get wrong: ``posexplode`` positions,
    OUTER vs inner explode of an EMPTY array (outer keeps the parent
    row with NULL pos/val; inner drops it — the left-join-vs-inner
    distinction in generator form). Arrays synthesized per customer
    (c_custkey % 4 elements, so empties exist). The generate runs
    scan-side (no shuffle); the DuckDB oracle spells the same
    semantics with list_transform + unnest over structs, with the
    empty case made explicit as a [NULL] sentinel — documenting
    exactly what OUTER adds."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat")
    return spark.sql("""
        WITH base AS (
          SELECT c_custkey,
                 CASE WHEN c_custkey % 4 = 0 THEN CAST(array() AS ARRAY<INT>)
                      ELSE sequence(1, CAST(c_custkey % 4 AS INT)) END AS arr
          FROM customer_lat
        )
        SELECT c_custkey, 'outer' AS mode, pos, val
        FROM base LATERAL VIEW OUTER posexplode(arr) t AS pos, val
        UNION ALL
        SELECT c_custkey, 'inner' AS mode, pos, val
        FROM base LATERAL VIEW posexplode(arr) t AS pos, val
    """)


ORACLES["lateral_explode_matrix"] = """
WITH base AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 4 = 0 THEN []
              ELSE range(1, CAST(c_custkey % 4 AS INT) + 1) END AS arr
  FROM customer
),
pairs AS (
  SELECT c_custkey,
         list_transform(range(1, len(arr) + 1),
                        i -> {'pos': CAST(i - 1 AS INT), 'val': CAST(arr[i] AS BIGINT)}) AS ps
  FROM base
),
outer_side AS (
  SELECT c_custkey,
         unnest(CASE WHEN len(ps) = 0
                     THEN [{'pos': CAST(NULL AS INT), 'val': CAST(NULL AS BIGINT)}]
                     ELSE ps END) AS p
  FROM pairs
),
inner_side AS (
  SELECT c_custkey, unnest(ps) AS p FROM pairs
)
SELECT c_custkey, 'outer' AS mode, p.pos AS pos, p.val AS val FROM outer_side
UNION ALL
SELECT c_custkey, 'inner' AS mode, p.pos AS pos, p.val AS val FROM inner_side
"""


def map_function_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A54 — map-typed column surface (the semi-structured sibling of
    A30's array matrix): construct (``map_from_arrays``), read
    (``element_at`` present + ABSENT key → NULL), introspect
    (``map_keys`` sorted for determinism — map iteration order is
    engine-internal), transform values (``transform_values``), and
    flatten entries to rows (``explode`` of the map). All scan-side
    expressions. The oracle reconstructs the identical rows
    relationally (no MAP type needed) — pinning Spark's map
    semantics against ground truth rather than against another
    engine's different map model."""
    cust = load_table(spark, sf_dir, "customer")
    m = F.map_from_arrays(
        F.array(F.lit("seg"), F.lit("name")),
        F.array(F.col("c_mktsegment"), F.col("c_name")),
    )
    staged = cust.select("c_custkey", m.alias("m"))
    scalars = staged.select(
        "c_custkey",
        F.lit("scalar").alias("kind"),
        F.element_at(F.col("m"), F.lit("seg")).alias("k"),
        F.element_at(F.col("m"), F.lit("missing")).alias("v"),
        F.array_join(F.array_sort(F.map_keys(F.col("m"))), ",").alias("extra"),
    )
    exploded = staged.select(
        "c_custkey",
        F.lit("entry").alias("kind"),
        F.explode(F.transform_values(F.col("m"), lambda k, v: F.upper(v))),
    ).select("c_custkey", "kind", F.col("key").alias("k"), F.col("value").alias("v"),
             F.lit(None).cast("string").alias("extra"))
    return scalars.unionByName(exploded)


ORACLES["map_function_matrix"] = """
SELECT c_custkey, 'scalar' AS kind, c_mktsegment AS k,
       CAST(NULL AS VARCHAR) AS v, 'name,seg' AS extra
FROM customer
UNION ALL
SELECT c_custkey, 'entry', 'seg', upper(c_mktsegment), NULL FROM customer
UNION ALL
SELECT c_custkey, 'entry', 'name', upper(c_name), NULL FROM customer
"""


def datetime_function_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A55 — calendar/datetime parity matrix over order dates: the
    extractors engines disagree on by default, pinned to ONE
    definition on both sides — ISO week number and ISO weekday
    (Mon=1..Sun=7; Spark's dayofweek is Sun=1, DuckDB's dow is
    Sun=0 — both sides use their ISO spellings instead), quarter,
    month/quarter/week date_trunc, end-of-month, and day-arithmetic
    across a month boundary. All scan-side; UTC session pinned (the
    engine's session factory) so truncations are timezone-stable."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    iso = "yyyy-MM-dd"
    return orders.select(
        "o_orderkey",
        F.date_format(d, iso).alias("d"),
        F.year(d).cast("bigint").alias("y"),
        F.quarter(d).cast("bigint").alias("q"),
        F.month(d).cast("bigint").alias("m"),
        F.weekofyear(d).cast("bigint").alias("iso_week"),
        F.dayofweek(F.date_add(d, -1)).cast("bigint").alias("iso_dow"),
        # dates emitted as ISO STRINGS (house rule: engines disagree on
        # whether a date materializes as date or midnight timestamp
        # client-side — see etl_extract_conform)
        F.date_format(F.date_trunc("quarter", d), iso).alias("quarter_start"),
        F.date_format(F.date_trunc("week", d), iso).alias("week_start"),
        F.date_format(F.last_day(d), iso).alias("month_end"),
        F.date_format(F.date_add(d, 45), iso).alias("plus45"),
        F.round(F.months_between(F.lit("1998-01-01").cast("date"), d), 4).alias("mb"),
    )


ORACLES["datetime_function_matrix"] = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS d,
       CAST(year(o_orderdate) AS BIGINT) AS y,
       CAST(quarter(o_orderdate) AS BIGINT) AS q,
       CAST(month(o_orderdate) AS BIGINT) AS m,
       CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
       CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_dow,
       strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start,
       strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       strftime(CAST(o_orderdate AS DATE) + 45, '%Y-%m-%d') AS plus45,
       ROUND(12 * (1998 - year(o_orderdate)) + (1 - month(o_orderdate))
             - (day(o_orderdate) - 1) / 31.0, 4) AS mb
FROM orders
"""


def subquery_semantics_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A56 — subquery predicate semantics, one statement on both
    engines: the four spellings that look interchangeable and are
    not. ``NOT IN`` against a subquery CONTAINING A NULL returns
    UNKNOWN for every row (count 0 — the classic production outage);
    ``NOT EXISTS`` with the same correlation returns the intuitive
    complement; ``IN`` ignores the NULL; plus a correlated scalar
    subquery in the projection. The NULL is planted (nationkey 13 →
    NULL) so the trap actually fires. Catalyst rewrites all four to
    joins (null-aware anti / semi / left) — no per-row subquery
    execution at scale."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(_SUBQ_SQL.format(cust="customer_sq", orders="orders_sq"))


_SUBQ_SQL = """
WITH nat AS (
  SELECT CASE WHEN c_nationkey = 13 THEN NULL ELSE c_nationkey END AS nk
  FROM {cust}
)
SELECT 'not_in_with_null' AS test, COUNT(*) AS n FROM {cust}
WHERE c_nationkey NOT IN (SELECT nk FROM nat)
UNION ALL
SELECT 'in_ignores_null', COUNT(*) FROM {cust}
WHERE c_nationkey IN (SELECT nk FROM nat WHERE nk IS NULL OR nk < 5)
UNION ALL
SELECT 'not_exists_complement', COUNT(*) FROM {cust} c
WHERE NOT EXISTS (SELECT 1 FROM {orders} o WHERE o.o_custkey = c.c_custkey
                    AND year(o.o_orderdate) = 1998)
UNION ALL
SELECT 'scalar_subquery', COUNT(*) FROM (
  SELECT c_custkey,
         (SELECT COUNT(*) FROM {orders} o WHERE o.o_custkey = c.c_custkey) AS n_orders
  FROM {cust} c
) WHERE n_orders >= 12
"""

ORACLES["subquery_semantics_matrix"] = _SUBQ_SQL.format(cust="customer", orders="orders")


LEV_CAP = 10


def fuzzy_distance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A58 — sorted-neighborhood fuzzy matching: edit-distance
    distribution over candidate pairs produced by adjacent-key
    blocking (sort the corpus by a blocking key, compare each record
    to its neighbor) — the classic record-linkage shape that avoids
    the O(n²) all-pairs comparison. Pairing is an equi-join on
    ``p_partkey + 1`` (shuffle-safe, no global window), so at 100 TB
    it is one co-partitioned join, not a single-partition lag. Two
    variants share one pair scan: the full Levenshtein distance, and
    Spark's bounded form ``levenshtein(a, b, threshold)`` that
    short-circuits to -1 above the cap — the production form for
    dedup where only near matches matter (bounded DP cost per pair).
    Oracle reconstructs the cap with a CASE over DuckDB's exact
    distance. Fuzzy-match parity extends the reference's exact
    string-equality cleaning rules (main.py:70-96)."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    a = p.select(F.col("p_partkey").alias("k"), F.col("p_name").alias("name_a"))
    b = p.select((F.col("p_partkey") - 1).alias("k"), F.col("p_name").alias("name_b"))
    pairs = a.join(b, "k")
    lev = (
        pairs.groupBy(F.levenshtein("name_a", "name_b").alias("dist"))
        .agg(F.count("*").alias("n"))
        .select(F.lit("lev").alias("kind"), "dist", "n")
    )
    capped = (
        pairs.groupBy(
            F.levenshtein("name_a", "name_b", LEV_CAP).alias("dist")
        )
        .agg(F.count("*").alias("n"))
        .select(F.lit("lev_capped").alias("kind"), "dist", "n")
    )
    return lev.unionByName(capped).orderBy("kind", "dist")


ORACLES["fuzzy_distance_matrix"] = f"""
WITH pairs AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b
  FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
)
SELECT kind, dist, n FROM (
  SELECT 'lev' AS kind, levenshtein(name_a, name_b) AS dist, COUNT(*) AS n
  FROM pairs GROUP BY 2
  UNION ALL
  SELECT 'lev_capped',
         CASE WHEN levenshtein(name_a, name_b) > {LEV_CAP} THEN -1
              ELSE levenshtein(name_a, name_b) END,
         COUNT(*)
  FROM pairs GROUP BY 2
)
ORDER BY kind, dist
"""


def decimal_semantics_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A62 — money-arithmetic parity matrix: the decimal behaviors an
    ETL engine must pin before anyone trusts its ledgers, each probe
    verified against GROUND-TRUTH integer arithmetic in the oracle
    (the A54/A55 reconstruction pattern — never against another
    engine's possibly-divergent builtin):

    - exact DECIMAL aggregation of a product (scale propagation
      through * stays exact; the sum is order-independent);
    - ROUND = HALF_UP (away from zero for positives): oracle
      reconstructs via cents // + carry on r >= 500;
    - BROUND = HALF_EVEN (banker's rounding — ties go to the even
      cent): oracle adds q % 2 only on the exact tie r = 500. The two
      modes differ on this data (delta column is nonzero) — using the
      wrong one misstates revenue;
    - decimal division re-cast to a bounded scale (price/4 is exact
      at 4 decimals; the cast normalizes Spark's (38,20) quotient);
    - decimal squares (scale doubles, still exact in 38 digits).

    Overflow is NOT in the matrix because this engine runs ANSI mode:
    a decimal overflow RAISES (SparkArithmeticException
    NUMERIC_VALUE_OUT_OF_RANGE) instead of returning NULL — fail-fast
    is pinned in test_operators, not oracle-able."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_dec")
    # every probe is computed in exact INTEGER units (cents,
    # hundredth-cents, cents²); wide columns leave as DOUBLE only at
    # the very end — both engines then cast the SAME exact integer,
    # so the correctly-rounded doubles are bit-identical (a double
    # cast mid-computation would not be)
    return spark.sql("""
        SELECT
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 3) * 100 AS DOUBLE) AS mul3_cents,
          CAST(SUM(ROUND(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(0.001 AS DECIMAL(6,3)), 2)) * 100 AS BIGINT) AS round_half_up_cents,
          CAST(SUM(BROUND(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(0.001 AS DECIMAL(6,3)), 2)) * 100 AS BIGINT) AS round_half_even_cents,
          CAST((SUM(ROUND(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(0.001 AS DECIMAL(6,3)), 2))
                - SUM(BROUND(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(0.001 AS DECIMAL(6,3)), 2))) * 100 AS BIGINT) AS mode_delta_cents,
          CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) / 4 AS DECIMAL(18,4))) * 10000 AS DOUBLE) AS div4_hundredth_cents,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2))) * 10000 AS DOUBLE) AS square_cents2
        FROM orders_dec
    """)


ORACLES["decimal_semantics_matrix"] = """
WITH cents AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
),
rounded AS (
  -- x = price * 0.001 has scale 5; x * 1e5 = cents. Rounding x to 2
  -- decimals = rounding cents to thousandths: q = c // 1000 with
  -- remainder r = c % 1000 (prices are positive, so no sign care).
  SELECT c, c // 1000 AS q, c % 1000 AS r FROM cents
)
SELECT
  CAST(SUM(c) * 3 AS DOUBLE) AS mul3_cents,
  CAST(SUM(q + CASE WHEN r >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS round_half_up_cents,
  CAST(SUM(q + CASE WHEN r > 500 THEN 1 WHEN r < 500 THEN 0 ELSE q % 2 END) AS BIGINT) AS round_half_even_cents,
  CAST(SUM(CASE WHEN r >= 500 THEN 1 ELSE 0 END)
       - SUM(CASE WHEN r > 500 THEN 1 WHEN r < 500 THEN 0 ELSE q % 2 END) AS BIGINT) AS mode_delta_cents,
  CAST(SUM(c) * 25 AS DOUBLE) AS div4_hundredth_cents,
  CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS square_cents2
FROM rounded
"""


def null_ordering_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A63 — NULL placement semantics, the silent cross-engine
    divergence in every ORDER BY (Spark default: NULLS FIRST on ASC,
    NULLS LAST on DESC; DuckDB: NULLS LAST on ASC — so UNSPELLED null
    ordering gives different top-k on the two engines). Every variant
    here spells its placement explicitly, which is the house rule
    this matrix enforces by example:

    - four explicit sort variants (ASC/DESC × NULLS FIRST/LAST) over
      a planted-NULL measure, each taking top-5 via the distributed
      ranked_topk (TakeOrderedAndProject — no global window);
    - IGNORE NULLS gap-fill: last non-NULL balance per segment in key
      order (``F.last(ignorenulls=True)`` vs DuckDB ``LAST_VALUE(x
      IGNORE NULLS)``), summed per segment — the forward-fill
      primitive A31's gap fill builds on, pinned at parity."""
    from proceso_de_etl_spark.operators.windows import ranked_topk
    from pyspark.sql import Window as W

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 97 == 0, F.lit(None))
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    variants = {
        "asc_nulls_first": [F.col("bal").asc_nulls_first(), F.col("c_custkey").asc()],
        "asc_nulls_last": [F.col("bal").asc_nulls_last(), F.col("c_custkey").asc()],
        "desc_nulls_first": [F.col("bal").desc_nulls_first(), F.col("c_custkey").asc()],
        "desc_nulls_last": [F.col("bal").desc_nulls_last(), F.col("c_custkey").asc()],
    }
    out = None
    for kind, order in variants.items():
        piece = ranked_topk(cust, order, 5).select(
            F.lit(f"sort_{kind}").alias("kind"),
            F.col("rank").cast("bigint").alias("pos"),
            F.col("c_custkey").cast("string").alias("ref"),
            F.col("bal").alias("val"),
        )
        out = piece if out is None else out.unionByName(piece)
    w = (
        W.partitionBy("c_mktsegment")
        .orderBy("c_custkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fill = (
        cust.withColumn("filled", F.last("bal", ignorenulls=True).over(w))
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("filled").cast("decimal(18,2)")).cast("double"), 2).alias("val")
        )
        .select(
            F.lit("fill_ignore_nulls").alias("kind"),
            F.lit(0).cast("bigint").alias("pos"),
            F.col("c_mktsegment").alias("ref"),
            "val",
        )
    )
    return out.unionByName(fill).orderBy("kind", "pos", "ref")


ORACLES["null_ordering_matrix"] = """
WITH cust AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer
),
sorts AS (
  SELECT 'sort_asc_nulls_first' AS kind,
         CAST(row_number() OVER (ORDER BY bal ASC NULLS FIRST, c_custkey ASC) AS BIGINT) AS pos,
         CAST(c_custkey AS VARCHAR) AS ref, bal AS val
  FROM cust QUALIFY pos <= 5
  UNION ALL
  SELECT 'sort_asc_nulls_last',
         CAST(row_number() OVER (ORDER BY bal ASC NULLS LAST, c_custkey ASC) AS BIGINT),
         CAST(c_custkey AS VARCHAR), bal
  FROM cust QUALIFY row_number() OVER (ORDER BY bal ASC NULLS LAST, c_custkey ASC) <= 5
  UNION ALL
  SELECT 'sort_desc_nulls_first',
         CAST(row_number() OVER (ORDER BY bal DESC NULLS FIRST, c_custkey ASC) AS BIGINT),
         CAST(c_custkey AS VARCHAR), bal
  FROM cust QUALIFY row_number() OVER (ORDER BY bal DESC NULLS FIRST, c_custkey ASC) <= 5
  UNION ALL
  SELECT 'sort_desc_nulls_last',
         CAST(row_number() OVER (ORDER BY bal DESC NULLS LAST, c_custkey ASC) AS BIGINT),
         CAST(c_custkey AS VARCHAR), bal
  FROM cust QUALIFY row_number() OVER (ORDER BY bal DESC NULLS LAST, c_custkey ASC) <= 5
),
fill AS (
  SELECT 'fill_ignore_nulls' AS kind, CAST(0 AS BIGINT) AS pos,
         c_mktsegment AS ref,
         ROUND(CAST(SUM(CAST(filled AS DECIMAL(18,2))) AS DOUBLE), 2) AS val
  FROM (
    SELECT c_mktsegment,
           LAST_VALUE(bal IGNORE NULLS) OVER (
             PARTITION BY c_mktsegment ORDER BY c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM cust
  )
  GROUP BY c_mktsegment
)
SELECT kind, pos, ref, val FROM sorts
UNION ALL
SELECT kind, pos, ref, val FROM fill
ORDER BY kind, pos, ref
"""


def lateral_join_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A64 — correlated LATERAL subquery (SQL:1999 lateral derived
    table, Spark 3.4+): each BUILDING-segment customer joined to its
    own top-2 orders by value, written as the per-row subquery users
    port from Postgres/DuckDB — `FROM c, LATERAL (SELECT ... WHERE
    o_custkey = c_custkey ORDER BY ... LIMIT 2)`. Catalyst
    decorrelates this into a ranked join (DomainJoin → window over
    the domain keys), NOT a per-customer re-execution — so the
    lateral form is 100 TB-safe even though it reads like a loop; the
    A11 ranked-window formulation and this one compile to the same
    physical family. Oracle runs the identical statement (DuckDB
    executes LATERAL natively)."""
    load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).createOrReplaceTempView("lat_cust")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql("""
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM lat_cust, LATERAL (
          SELECT o_orderkey, o_totalprice FROM lat_orders
          WHERE o_custkey = c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) t
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey
    """)


ORACLES["lateral_join_topn"] = """
SELECT c_custkey, t.o_orderkey, t.o_totalprice
FROM (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') c,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
) t
ORDER BY c_custkey, o_totalprice DESC, o_orderkey
"""


def string_function_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A65 — string-manipulation parity matrix, the companion to the
    scalar matrix (A29, which is date/numeric-heavy): trim family on
    planted padding, lpad/rpad, translate, replace, split_part,
    substring position (Spark ``instr`` = DuckDB ``strpos``), repeat/
    reverse/left/right, contains/startswith/endswith as booleans, and
    initcap — which DuckDB LACKS, so the oracle reconstructs it
    per-word with split/upper/lower (the reconstruction-not-
    another-builtin rule). All scan-side JVM expressions over part;
    one projection, no shuffle."""
    part = load_table(spark, sf_dir, "part")
    padded = F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))
    return part.select(
        "p_partkey",
        F.trim(padded).alias("trimmed"),
        F.ltrim(padded).alias("ltrimmed"),
        F.rtrim(padded).alias("rtrimmed"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("key_padded"),
        F.rpad("p_brand", 12, ".").alias("brand_padded"),
        F.translate("p_type", "aeiou", "AEIOU").alias("type_vowels"),
        F.regexp_replace("p_name", " ", "_").alias("name_snaked"),
        F.expr("split_part(p_type, ' ', 2)").alias("type_mid"),
        F.instr("p_name", "a").cast("bigint").alias("first_a_pos"),
        F.repeat(F.col("p_brand"), 2).alias("brand_twice"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.expr("left(p_name, 5)").alias("name_head"),
        F.expr("right(p_name, 3)").alias("name_tail"),
        F.col("p_name").contains("olive").alias("has_olive"),
        F.col("p_type").startswith("STANDARD").alias("is_standard"),
        F.col("p_type").endswith("TIN").alias("is_tin"),
        F.initcap("p_name").alias("name_title"),
    )


ORACLES["string_function_matrix"] = """
SELECT p_partkey,
       trim(concat('  ', p_brand, '  ')) AS trimmed,
       ltrim(concat('  ', p_brand, '  ')) AS ltrimmed,
       rtrim(concat('  ', p_brand, '  ')) AS rtrimmed,
       lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
       rpad(p_brand, 12, '.') AS brand_padded,
       translate(p_type, 'aeiou', 'AEIOU') AS type_vowels,
       regexp_replace(p_name, ' ', '_', 'g') AS name_snaked,
       split_part(p_type, ' ', 2) AS type_mid,
       CAST(strpos(p_name, 'a') AS BIGINT) AS first_a_pos,
       repeat(p_brand, 2) AS brand_twice,
       reverse(p_brand) AS brand_rev,
       left(p_name, 5) AS name_head,
       right(p_name, 3) AS name_tail,
       contains(p_name, 'olive') AS has_olive,
       starts_with(p_type, 'STANDARD') AS is_standard,
       suffix(p_type, 'TIN') AS is_tin,
       array_to_string(list_transform(string_split(p_name, ' '),
         w -> CASE WHEN len(w) = 0 THEN w
                   ELSE concat(upper(substr(w, 1, 1)), lower(substr(w, 2))) END), ' ')
         AS name_title
FROM part
"""


QUERIES = {
    "agg_pivot": agg_pivot,
    "interval_islands": interval_islands,
    "skew_key_diagnostics": skew_key_diagnostics,
    "agg_filter_clause_matrix": agg_filter_clause_matrix,
    "lateral_explode_matrix": lateral_explode_matrix,
    "map_function_matrix": map_function_matrix,
    "datetime_function_matrix": datetime_function_matrix,
    "subquery_semantics_matrix": subquery_semantics_matrix,
    "agg_argmax_no_window": agg_argmax_no_window,
    "recursive_cte_closure": recursive_cte_closure,
    "agg_unpivot": agg_unpivot,
    "set_ops_customers": set_ops_customers,
    "agg_distinct_exact": agg_distinct_exact,
    "agg_approx": agg_approx,
    "agg_approx_bound": agg_approx_bound,
    "agg_percentiles": agg_percentiles,
    "skew_salted_join": skew_salted_join,
    "agg_rollup": agg_rollup,
    "scalar_function_matrix": scalar_function_matrix,
    "array_function_matrix": array_function_matrix,
    "null_semantics_matrix": null_semantics_matrix,
    "agg_cube": agg_cube,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_stats_matrix": agg_stats_matrix,
    "join_type_matrix": join_type_matrix,
    "agg_histogram": agg_histogram,
    "sort_global_rank": sort_global_rank,
    "agg_mode_per_group": agg_mode_per_group,
    "fuzzy_distance_matrix": fuzzy_distance_matrix,
    "agg_equidepth_histogram": agg_equidepth_histogram,
    "decimal_semantics_matrix": decimal_semantics_matrix,
    "null_ordering_matrix": null_ordering_matrix,
    "lateral_join_topn": lateral_join_topn,
    "string_function_matrix": string_function_matrix,
}
