"""Business-analytics report operators (SURVEY.md §2.2 A69-A74):
market-basket association rules, event-transition (Markov) matrices,
RFM customer segmentation, Pareto/ABC classification on a distributed
prefix sum, period-over-period growth, and a Welch t-test matrix.

These close the "analyst asks a question" surface above the raw
relational core: the reference's star schema exists to feed exactly
this kind of report (reference README §2.3 names the consumption
layer; main.py:150-216 builds the star these run on). Every operator
here is a pure DataFrame composition — no Python UDFs, no global
windows (the repo-wide plan sweep enforces the latter), and every
ratio is derived from exact integer/DECIMAL aggregates so the DuckDB
oracle matches bit-for-bit after the 6dp edge rounding.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from proceso_de_etl_spark.functions.columns import dsum, money
from proceso_de_etl_spark.functions.hashing import digest, digest_sql, md5_int, md5_int_sql
from proceso_de_etl_spark.sources.catalog import load_table
from proceso_de_etl_spark.sources.local import local_frame

ORACLES: dict[str, str] = {}

# Association rules below this absolute pair-order count are noise at
# any SF; an absolute (not relative) floor keeps the operator
# meaningful at sf0.001 smoke scale too.
BASKET_MIN_PAIR_ORDERS = 2


def _basket_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(baskets, item_n, pairs) — the shared basket-analytics state
    (r12 verdict item 7), memoized per session via cachereg so A69
    market-basket rules and A82 item-item CF stop paying the SAME
    distinct + keyed self-join + pair aggregation independently (82 s
    + 67 s at sf10, dominated by this build):

    - ``baskets`` (l_orderkey, l_partkey): distinct order→part rows,
    - ``item_n``  (item, item_orders): per-part order counts,
    - ``pairs``   (ante, cons, pair_orders): UNFILTERED ordered-pair
      co-occurrence counts — each consumer applies its own support
      threshold on top (A69 BASKET_MIN_PAIR_ORDERS, A82 CF_MIN_CO),
      so the shared frame stays correct if the thresholds diverge.

    The pair blow-up is bounded by max-basket-size² per order (TPC-H
    baskets ≤7 lines), NOT corpus size — the a-priori candidate-pair
    shape that survives 100 TB. Release: cachereg.release_all() (the
    bench/scale pass hook)."""
    from proceso_de_etl_spark import cachereg

    baskets = cachereg.memo(
        spark,
        "basket_baskets",
        sf_dir,
        lambda: load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
    )
    item_n = cachereg.memo(
        spark,
        "basket_item_n",
        sf_dir,
        lambda: baskets.groupBy(F.col("l_partkey").alias("item")).agg(
            F.count("*").alias("item_orders")
        ),
    )

    def build_pairs() -> DataFrame:
        a = baskets.select("l_orderkey", F.col("l_partkey").alias("ante"))
        b = baskets.select("l_orderkey", F.col("l_partkey").alias("cons"))
        return (
            a.join(b, "l_orderkey")
            .filter(F.col("ante") != F.col("cons"))
            .groupBy("ante", "cons")
            .agg(F.count("*").alias("pair_orders"))
        )

    pairs = cachereg.memo(spark, "basket_pairs", sf_dir, build_pairs)
    return baskets, item_n, pairs


def basket_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared basket pair-frame build registered as its own
    timed, value-oracled query (the A59b cost-attribution pattern):
    the suite times the distinct + self-join + pair aggregation ONCE
    and A69/A82 measure only their warm rule/similarity work. The
    one-row summary forces all three shared frames to materialize
    under the timer and pins the pair MULTISET exactly:
    pair_digest is the overflow-safe ``digest`` of
    (ante·1000003+cons)·pair_orders: summed through DECIMAL(38,0) and
    Mersenne-reduced to BIGINT, because DuckDB's SUM promotes to
    HUGEINT while Spark's BIGINT sum would raise ARITHMETIC_OVERFLOW
    (ANSI mode, which get_spark keeps) on derived tiers."""
    baskets, item_n, pairs = _basket_frames(spark, sf_dir)
    return (
        pairs.agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("pair_orders") >= BASKET_MIN_PAIR_ORDERS, 1))
            .cast("bigint")
            .alias("n_supported_pairs"),
            F.max("pair_orders").cast("bigint").alias("max_pair_orders"),
            digest("(ante * 1000003 + cons) * pair_orders").alias("pair_digest"),
        )
        .join(
            baskets.agg(
                F.countDistinct("l_orderkey").cast("bigint").alias("n_baskets")
            )
        )
        .join(item_n.agg(F.count("*").cast("bigint").alias("n_items")))
        .select(
            "n_baskets",
            "n_items",
            "n_pairs",
            "n_supported_pairs",
            "max_pair_orders",
            "pair_digest",
        )
    )


ORACLES["basket_pair_counts"] = f"""
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
item_n AS (SELECT l_partkey AS item, COUNT(*) AS item_orders FROM baskets GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS ante, b.l_partkey AS cons, COUNT(*) AS pair_orders
  FROM baskets a JOIN baskets b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
)
SELECT (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) FROM baskets) AS n_baskets,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM item_n) AS n_items,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs
         WHERE pair_orders >= {BASKET_MIN_PAIR_ORDERS}) AS n_supported_pairs,
       (SELECT CAST(MAX(pair_orders) AS BIGINT) FROM pairs) AS max_pair_orders,
       (SELECT {digest_sql("(ante * 1000003 + cons) * pair_orders")} FROM pairs) AS pair_digest
"""


def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A69 — association rules over order baskets: for every ordered
    part pair (antecedent → consequent) co-present in ≥2 orders,
    support / confidence / lift from exact order counts.

    Distributed shape: the basket self-join is keyed on l_orderkey,
    so both sides shuffle once on the SAME key and co-partition; the
    pair blow-up is bounded by max-basket-size² per order (TPC-H
    baskets are ≤7 lines; sf0.1 here measures 17), NOT by corpus
    size — this is the classic a-priori candidate-pair shape that
    survives 100 TB because the quadratic term is per-basket. The
    per-item order counts join back on partkey (part-cardinality,
    grows with SF → no broadcast hint; AQE may still choose one).
    All ratios divide exact BIGINT counts in double and round 6dp.
    """
    # shared memoized basket/item/pair frames (r13): one distinct
    # shuffle + one pair aggregation per session feeds A69 AND A82
    # (plan-audited 13 exchanges / 0 reused before the r1 persist;
    # now the build itself is timed once as basket_pair_counts)
    baskets, item_n, all_pairs = _basket_frames(spark, sf_dir)
    n_orders = baskets.select(
        F.countDistinct("l_orderkey").cast("double").alias("n_orders")
    )
    pairs = all_pairs.filter(F.col("pair_orders") >= BASKET_MIN_PAIR_ORDERS)
    return (
        pairs.join(item_n.withColumnRenamed("item", "ante"), "ante")
        .withColumnRenamed("item_orders", "ante_orders")
        .join(
            item_n.selectExpr("item AS cons", "item_orders AS cons_orders"),
            "cons",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "ante",
            "cons",
            "pair_orders",
            F.round(F.col("pair_orders") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("pair_orders") / F.col("ante_orders"), 6).alias(
                "confidence"
            ),
            F.round(
                (F.col("pair_orders") / F.col("ante_orders"))
                / (F.col("cons_orders") / F.col("n_orders")),
                6,
            ).alias("lift"),
        )
    )


ORACLES["market_basket_rules"] = f"""
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM baskets),
item_n AS (SELECT l_partkey AS item, COUNT(*) AS item_orders FROM baskets GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS ante, b.l_partkey AS cons, COUNT(*) AS pair_orders
  FROM baskets a JOIN baskets b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_PAIR_ORDERS}
)
SELECT p.ante, p.cons, p.pair_orders,
       ROUND(p.pair_orders / t.n_orders, 6) AS support,
       ROUND(p.pair_orders / CAST(ia.item_orders AS DOUBLE), 6) AS confidence,
       ROUND((p.pair_orders / CAST(ia.item_orders AS DOUBLE))
             / (ic.item_orders / t.n_orders), 6) AS lift
FROM pairs p
JOIN item_n ia ON ia.item = p.ante
JOIN item_n ic ON ic.item = p.cons
CROSS JOIN tot t
"""


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A70 — first-order Markov transition matrix over the event
    stream: per-user lag over (ts, event_id) total order yields
    (prev_type → event_type) edges; counts roll up to the #types²
    matrix with row-normalized probabilities. The lag window is
    partitioned by user_id (one user's history per task — bounded);
    the normalizing window partitions the AGGREGATED matrix by
    prev_type (≤ #types rows per partition). Probability = exact
    count / exact row total, in double, 6dp."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    edges = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    wp = W.partitionBy("prev_type")
    return edges.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wp), 6).alias("p"),
    )


ORACLES["events_markov_transitions"] = """
WITH edges AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type,
         event_type AS next_type
  FROM events
),
cnt AS (
  SELECT prev_type, next_type, COUNT(*) AS n
  FROM edges WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       ROUND(n / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
FROM cnt
"""


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A71 — RFM segmentation: per customer recency (days since last
    order, vs the corpus max date), frequency (#orders), monetary
    (exact-decimal spend), each scored 1-4 against corpus quartile
    cuts. The cuts are three 1-row scalars (exact `percentile`
    interpolation, rounded 6dp on BOTH engines so a last-ulp
    interpolation difference cannot flip a boundary) broadcast back —
    no ntile, no global window; the per-customer frame shuffles once
    on o_custkey. Score = 1 + #cuts strictly exceeded (recency
    inverted: fresher = higher)."""
    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").cast("bigint").alias("frequency"),
        dsum("o_totalprice").alias("monetary"),
    )
    maxd = orders.agg(F.max("o_orderdate").alias("max_date"))
    rfm = rfm.crossJoin(F.broadcast(maxd)).select(
        "o_custkey",
        F.datediff("max_date", "last_order").cast("bigint").alias("recency_days"),
        "frequency",
        "monetary",
    )
    cuts = rfm.agg(
        *[
            F.round(
                F.expr(f"percentile({c}, {q})"), 6
            ).alias(f"{c[0]}q{i}")
            for c in ("recency_days", "frequency", "monetary")
            for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )

    def score(col: str, prefix: str):
        v = F.col(col)
        return (
            F.lit(1)
            + (v > F.col(f"{prefix}q1")).cast("int")
            + (v > F.col(f"{prefix}q2")).cast("int")
            + (v > F.col(f"{prefix}q3")).cast("int")
        )

    return rfm.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(5) - score("recency_days", "r")).alias("r_score"),
        score("frequency", "f").alias("f_score"),
        score("monetary", "m").alias("m_score"),
        (
            (F.lit(5) - score("recency_days", "r")) * 100
            + score("frequency", "f") * 10
            + score("monetary", "m")
        ).alias("rfm"),
    )


ORACLES["customer_rfm_segments"] = """
WITH rfm AS (
  SELECT o_custkey,
         CAST(date_diff('day', MAX(o_orderdate), (SELECT MAX(o_orderdate) FROM orders)) AS BIGINT) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
),
cuts AS (
  SELECT ROUND(quantile_cont(recency_days, 0.25), 6) AS rq1,
         ROUND(quantile_cont(recency_days, 0.5), 6) AS rq2,
         ROUND(quantile_cont(recency_days, 0.75), 6) AS rq3,
         ROUND(quantile_cont(frequency, 0.25), 6) AS fq1,
         ROUND(quantile_cont(frequency, 0.5), 6) AS fq2,
         ROUND(quantile_cont(frequency, 0.75), 6) AS fq3,
         ROUND(quantile_cont(monetary, 0.25), 6) AS mq1,
         ROUND(quantile_cont(monetary, 0.5), 6) AS mq2,
         ROUND(quantile_cont(monetary, 0.75), 6) AS mq3
  FROM rfm
)
SELECT o_custkey, recency_days, frequency, monetary,
       5 - (1 + CAST(recency_days > rq1 AS INT) + CAST(recency_days > rq2 AS INT)
              + CAST(recency_days > rq3 AS INT)) AS r_score,
       1 + CAST(frequency > fq1 AS INT) + CAST(frequency > fq2 AS INT)
         + CAST(frequency > fq3 AS INT) AS f_score,
       1 + CAST(monetary > mq1 AS INT) + CAST(monetary > mq2 AS INT)
         + CAST(monetary > mq3 AS INT) AS m_score,
       (5 - (1 + CAST(recency_days > rq1 AS INT) + CAST(recency_days > rq2 AS INT)
              + CAST(recency_days > rq3 AS INT))) * 100
       + (1 + CAST(frequency > fq1 AS INT) + CAST(frequency > fq2 AS INT)
            + CAST(frequency > fq3 AS INT)) * 10
       + (1 + CAST(monetary > mq1 AS INT) + CAST(monetary > mq2 AS INT)
            + CAST(monetary > mq3 AS INT)) AS rfm
FROM rfm CROSS JOIN cuts
"""


PARETO_PARTITIONS = 32


def pareto_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A72 — Pareto/ABC analysis: parts ranked by revenue with exact
    global cumulative revenue share, classed A (≤80% cumulative), B
    (≤95%), C. The global prefix sum runs DISTRIBUTED — the same
    range-partition + broadcast-offset discipline as A41's
    global_rank_frame, extended from row offsets to DECIMAL value
    offsets: repartitionByRange on (revenue DESC, partkey), persist
    to pin the sampled range bounds, ONE bounded collect of
    per-partition (row count, DECIMAL revenue sum), then each
    partition ranks and prefix-sums only its own rows plus its
    broadcast offsets. No global window (the plan sweep enforces
    that); the only data-sized window partitions by _pid. Cumulative
    sums stay DECIMAL (order-independent) until the final
    share-in-double edge, so the class boundaries are engine-exact.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(money(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)).alias(
            "rev"
        )
    )
    ranged = (
        rev.repartitionByRange(
            PARETO_PARTITIONS, F.desc("rev"), F.asc("l_partkey")
        )
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    parts = sorted(
        (r["_pid"], r["n"], r["s"])
        for r in ranged.groupBy("_pid")
        .agg(F.count("*").alias("n"), F.sum("rev").alias("s"))
        .collect()
    )
    offsets, row_acc, val_acc = [], 0, Decimal(0)
    for pid, n, s in parts:
        offsets.append((pid, row_acc, val_acc))
        row_acc += n
        val_acc += s
    offs = local_frame(
        spark,
        offsets, "_pid int, _roff long, _voff decimal(38,4)"
    )
    # grand total = the final cumulative offset — the bounded collect
    # above already holds the exact decimal sum, so no second
    # lineitem scan (float(Decimal) and Spark's decimal→double cast
    # both round-to-nearest: identical value)
    total = local_frame(spark, [(float(val_acc),)], "total_rev double")
    w = (
        W.partitionBy("_pid")
        .orderBy(F.desc("rev"), F.asc("l_partkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    share = F.round(
        (F.sum("rev").over(w) + F.col("_voff")).cast("double")
        / F.col("total_rev"),
        6,
    )
    ranked = (
        ranged.join(F.broadcast(offs), "_pid")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "rank",
            F.row_number()
            .over(W.partitionBy("_pid").orderBy(F.desc("rev"), F.asc("l_partkey")))
            + F.col("_roff"),
        )
        .withColumn("cum_share", share)
        .select(
            "l_partkey",
            F.col("rev").cast("double").alias("revenue"),
            "rank",
            "cum_share",
            F.when(F.col("cum_share") <= 0.80, "A")
            .when(F.col("cum_share") <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    return ranked


ORACLES["pareto_abc_classes"] = """
WITH rev AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_rev
  FROM lineitem
),
ranked AS (
  SELECT l_partkey, rev,
         CAST(row_number() OVER (ORDER BY rev DESC, l_partkey ASC) AS BIGINT) AS rank,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
  FROM rev
)
SELECT l_partkey, CAST(rev AS DOUBLE) AS revenue, rank,
       ROUND(CAST(cum_rev AS DOUBLE) / total_rev, 6) AS cum_share,
       CASE WHEN ROUND(CAST(cum_rev AS DOUBLE) / total_rev, 6) <= 0.80 THEN 'A'
            WHEN ROUND(CAST(cum_rev AS DOUBLE) / total_rev, 6) <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked CROSS JOIN tot
"""


def sales_growth_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A73 — period-over-period growth: monthly revenue with
    month-over-month and year-over-year deltas. Spark side uses NO
    window at all — the month frame (one row per (year, month), a
    calendar-bounded cardinality) LEFT-joins itself on a linearized
    month index shifted by 1 and by 12; at any SF the join inputs
    are #months rows, so this is three tiny co-keyed joins after one
    fact-scan aggregation. Growth ratios divide exact decimal sums
    in double, 6dp; first month / first year emit NULL growth."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    ).withColumn("ym", F.col("y") * 12 + F.col("m") - 1)
    prev = monthly.select(
        (F.col("ym") + 1).alias("ym"), F.col("revenue").alias("prev_month_rev")
    )
    yago = monthly.select(
        (F.col("ym") + 12).alias("ym"), F.col("revenue").alias("prev_year_rev")
    )
    return (
        monthly.join(prev, "ym", "left")
        .join(yago, "ym", "left")
        .select(
            "y",
            "m",
            "n_orders",
            "revenue",
            F.round(
                (F.col("revenue") - F.col("prev_month_rev"))
                / F.col("prev_month_rev"),
                6,
            ).alias("mom_growth"),
            F.round(
                (F.col("revenue") - F.col("prev_year_rev"))
                / F.col("prev_year_rev"),
                6,
            ).alias("yoy_growth"),
        )
    )


ORACLES["sales_growth_report"] = """
WITH monthly AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
         CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         CAST(EXTRACT(year FROM o_orderdate) AS INT) * 12
           + CAST(EXTRACT(month FROM o_orderdate) AS INT) - 1 AS ym
  FROM orders GROUP BY 1, 2
)
SELECT a.y, a.m, a.n_orders, a.revenue,
       ROUND((a.revenue - pm.revenue) / pm.revenue, 6) AS mom_growth,
       ROUND((a.revenue - py.revenue) / py.revenue, 6) AS yoy_growth
FROM monthly a
LEFT JOIN monthly pm ON pm.ym = a.ym - 1
LEFT JOIN monthly py ON py.ym = a.ym - 12
"""


def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A74 — Welch two-sample t-test matrix: for every ordered pair
    of event types, the t statistic and Welch–Satterthwaite degrees
    of freedom comparing the `value` distributions — the
    experimentation-platform primitive computed entirely from
    per-group exact moments (n, Σv, Σv² in DECIMAL — the A37
    discipline), so one scan + one #types²-row broadcast self-join
    produces the whole matrix. Every derived value is a chain of
    IEEE-exact double ops on engine-identical inputs; 6dp rounding
    at the edge."""
    ev = load_table(spark, sf_dir, "events")
    mom = ev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        dsum("value", 6).alias("s1"),
        dsum(F.col("value") * F.col("value"), 6).alias("s2"),
    )
    a = mom.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("s1").alias("s1a"),
        F.col("s2").alias("s2a"),
    )
    b = mom.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("s1").alias("s1b"),
        F.col("s2").alias("s2b"),
    )
    j = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    ma = F.col("s1a") / F.col("na")
    mb = F.col("s1b") / F.col("nb")
    # degenerate-group guards: n=1 groups get variance 0 explicitly
    # (Spark's non-ANSI x/0 -> NULL vs DuckDB's IEEE x/0 -> inf would
    # otherwise diverge), and the t/df pair is NULL — on both engines —
    # whenever either arm is a singleton or both variances are zero
    va = F.when(
        F.col("na") > 1,
        F.greatest(
            (F.col("s2a") - F.col("s1a") * F.col("s1a") / F.col("na"))
            / (F.col("na") - 1),
            F.lit(0.0),
        ),
    ).otherwise(F.lit(0.0))
    vb = F.when(
        F.col("nb") > 1,
        F.greatest(
            (F.col("s2b") - F.col("s1b") * F.col("s1b") / F.col("nb"))
            / (F.col("nb") - 1),
            F.lit(0.0),
        ),
    ).otherwise(F.lit(0.0))
    sea = va / F.col("na")
    seb = vb / F.col("nb")
    defined = (F.col("na") > 1) & (F.col("nb") > 1) & (sea + seb > 0)
    t = F.when(defined, (ma - mb) / F.sqrt(sea + seb))
    df = F.when(
        defined,
        (sea + seb) * (sea + seb)
        / (sea * sea / (F.col("na") - 1) + seb * seb / (F.col("nb") - 1)),
    )
    return j.select(
        "type_a",
        "type_b",
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 6).alias("welch_df"),
    )


ORACLES["ab_welch_ttest"] = """
WITH mom AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS s2
  FROM events GROUP BY 1
),
se AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n AS na, b.n AS nb, a.s1 AS s1a, b.s1 AS s1b,
         CASE WHEN a.n > 1
              THEN GREATEST((a.s2 - a.s1 * a.s1 / a.n) / (a.n - 1), 0) / a.n
              ELSE 0 END AS sea,
         CASE WHEN b.n > 1
              THEN GREATEST((b.s2 - b.s1 * b.s1 / b.n) / (b.n - 1), 0) / b.n
              ELSE 0 END AS seb
  FROM mom a JOIN mom b ON a.event_type < b.event_type
)
SELECT type_a, type_b,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(s1a / na, 6) AS mean_a,
       ROUND(s1b / nb, 6) AS mean_b,
       CASE WHEN na > 1 AND nb > 1 AND sea + seb > 0
            THEN ROUND((s1a / na - s1b / nb) / SQRT(sea + seb), 6) END AS t_stat,
       CASE WHEN na > 1 AND nb > 1 AND sea + seb > 0
            THEN ROUND((sea + seb) * (sea + seb)
                 / (sea * sea / (na - 1) + seb * seb / (nb - 1)), 6) END AS welch_df
FROM se
"""


def agg_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A79 — MAD-based robust outlier screen: per event type, median
    and median-absolute-deviation of `value`, and the count of
    events whose modified z-score 0.6745·(x−med)/MAD exceeds 3.5
    (Iglewicz-Hoaglin) — the outlier rule that, unlike A37's
    moment-based z-score, a single wild value cannot corrupt. Two
    grouped exact-percentile passes (median, then MAD over the
    deviations) + one final rollup, all keyed on event_type; medians
    are rounded 6dp on both engines before re-use (the A71 cut
    discipline) so the derived deviations are engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.first("med").alias("median_value"),
            F.first("mad").alias("mad"),
            # mad=0 guard: Spark's non-ANSI x/0 -> NULL (row silently
            # not counted) vs DuckDB's IEEE x/0 -> inf (row counted)
            # would diverge the moment >50% of a group equals its
            # median, so the degenerate case is pinned explicitly: a
            # zero-MAD group reports zero outliers on both engines
            F.count(
                F.when(
                    (F.col("mad") > 0)
                    & (
                        F.abs(
                            0.6745 * (F.col("value") - F.col("med")) / F.col("mad")
                        )
                        > 3.5
                    ),
                    1,
                )
            ).alias("n_outliers"),
        )
    )


ORACLES["agg_robust_outliers"] = """
WITH med AS (
  SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, ROUND(quantile_cont(adev, 0.5), 6) AS mad
  FROM dev GROUP BY 1
)
SELECT d.event_type, COUNT(*) AS n,
       MIN(d.med) AS median_value,
       MIN(a.mad) AS mad,
       COUNT(CASE WHEN a.mad > 0
                   AND ABS(0.6745 * (d.value - d.med) / a.mad) > 3.5
             THEN 1 END) AS n_outliers
FROM dev d JOIN mad a ON d.event_type = a.event_type
GROUP BY d.event_type
"""


def agg_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A80 — per-group closed-form OLS: retail price regressed on
    part size within each brand — slope, intercept, and R², all
    derived from the six exact-DECIMAL moments (n, Σx, Σx², Σy, Σy²,
    Σxy — the A37 discipline), so one partial-agg shuffle produces
    every brand's fit and the arithmetic is engine-identical before
    the 6dp edge. The grouped-trendline primitive dashboards compute
    constantly (T46 is the iterative ML trainer; this is the exact
    one-pass answer when the model is a line)."""
    part = load_table(spark, sf_dir, "part")
    x, y = F.col("p_size").cast("double"), F.col("p_retailprice")
    base = part.groupBy("p_brand").agg(
        F.count("*").cast("double").alias("n"),
        dsum(x, 2).alias("sx"),
        dsum(x * x, 2).alias("sxx"),
        dsum(y, 2).alias("sy"),
        dsum(y * y, 4).alias("syy"),
        dsum(x * y, 4).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    slope = cov_n / varx_n
    return base.select(
        "p_brand",
        n.cast("bigint").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(cov_n * cov_n / (varx_n * vary_n), 6).alias("r2"),
    )


ORACLES["agg_group_ols"] = """
WITH mom AS (
  SELECT p_brand, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(CAST(p_size AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(CAST(p_size AS DOUBLE) * CAST(p_size AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(p_retailprice * p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(CAST(p_size AS DOUBLE) * p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sxy
  FROM part GROUP BY 1
)
SELECT p_brand, CAST(n AS BIGINT) AS n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM mom
"""


CF_TOPK = 5
CF_MIN_CO = 2


def item_similarity_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A82 — item-item collaborative filtering: the top-5 most
    similar parts per part by co-purchase cosine, sim(a,b) =
    co(a,b)/√(n_a·n_b) — the "customers also bought" primitive, one
    structural step past A69's lift (cosine symmetrizes and
    normalizes away item popularity). Candidate pairs come from the
    SAME basket-bounded self-join as A69 (never all-pairs —
    co-occurrence is the candidate filter, which is exactly why
    item-item CF scales where user-user doesn't, Linden et al.
    2003); per-item top-5 is a keyed window over the candidate set.
    Cosine = exact integer counts through √ (IEEE-exact on identical
    inputs), 6dp edge; ties broken by neighbor id for a
    deterministic top-k."""
    # shared memoized basket/item/pair frames (r13): A82's co frame
    # IS A69's pair frame under its own threshold — see _basket_frames
    _, item_n_shared, all_pairs = _basket_frames(spark, sf_dir)
    item_n = item_n_shared.selectExpr("item", "item_orders AS n")
    co = all_pairs.selectExpr(
        "ante AS item", "cons AS nbr", "pair_orders AS co"
    ).filter(F.col("co") >= CF_MIN_CO)
    sim = (
        co.join(item_n, "item")
        .join(
            item_n.selectExpr("item AS nbr", "n AS n_nbr"),
            "nbr",
        )
        .select(
            "item",
            "nbr",
            "co",
            F.round(
                F.col("co") / F.sqrt(F.col("n") * F.col("n_nbr")), 6
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("item").orderBy(
        F.desc("cosine"), F.desc("co"), F.asc("nbr")
    )
    return (
        sim.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= CF_TOPK)
        .select("item", "rk", "nbr", "co", "cosine")
    )


ORACLES["item_similarity_cf"] = f"""
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
item_n AS (SELECT l_partkey AS item, COUNT(*) AS n FROM baskets GROUP BY 1),
co AS (
  SELECT a.l_partkey AS item, b.l_partkey AS nbr, COUNT(*) AS co
  FROM baskets a JOIN baskets b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {CF_MIN_CO}
),
sim AS (
  SELECT c.item, c.nbr, c.co,
         ROUND(c.co / SQRT(CAST(ia.n AS DOUBLE) * ib.n), 6) AS cosine
  FROM co c
  JOIN item_n ia ON ia.item = c.item
  JOIN item_n ib ON ib.item = c.nbr
)
SELECT item, rk, nbr, co, cosine
FROM (SELECT item, nbr, co, cosine,
             CAST(row_number() OVER (PARTITION BY item
                  ORDER BY cosine DESC, co DESC, nbr ASC) AS BIGINT) AS rk
      FROM sim)
WHERE rk <= {CF_TOPK}
"""


def ab_aa_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A83 — A/A calibration audit: users hash-bucketed into two
    arms by md5 parity (the deterministic, sticky assignment an
    experimentation platform actually uses — no RNG, re-runs give
    identical arms), then the arms are compared on traffic balance
    and the Welch t statistic of `value` — which for an A/A split
    must be noise. This is the pre-experiment sanity check that
    catches a broken bucketing hash before anyone trusts an A/B
    readout (md5-portable like T47, so the oracle reproduces the
    assignment bit-for-bit; swap xxhash64 in production). One scan,
    per-arm exact moments (A74 discipline), one 2-row fold."""
    ev = load_table(spark, sf_dir, "events")
    arm = (md5_int(F.col("user_id").cast("string"), 8) % 2).cast("int")
    mom = ev.groupBy(arm.alias("arm")).agg(
        F.count("*").cast("double").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        dsum("value", 6).alias("s1"),
        dsum(F.col("value") * F.col("value"), 6).alias("s2"),
    )
    a = mom.filter(F.col("arm") == 0).select(
        F.col("n").alias("na"), F.col("n_users").alias("ua"),
        F.col("s1").alias("s1a"), F.col("s2").alias("s2a"),
    )
    b = mom.filter(F.col("arm") == 1).select(
        F.col("n").alias("nb"), F.col("n_users").alias("ub"),
        F.col("s1").alias("s1b"), F.col("s2").alias("s2b"),
    )
    j = a.crossJoin(F.broadcast(b))
    ma, mb = F.col("s1a") / F.col("na"), F.col("s1b") / F.col("nb")
    # same degenerate-group guards as ab_welch_ttest: singleton arms
    # get variance 0 explicitly, and t is NULL on both engines when
    # either arm is a singleton or both variances vanish (Spark x/0 ->
    # NULL vs DuckDB x/0 -> inf would otherwise diverge)
    va = F.when(
        F.col("na") > 1,
        F.greatest(
            (F.col("s2a") - F.col("s1a") * F.col("s1a") / F.col("na"))
            / (F.col("na") - 1),
            F.lit(0.0),
        ),
    ).otherwise(F.lit(0.0))
    vb = F.when(
        F.col("nb") > 1,
        F.greatest(
            (F.col("s2b") - F.col("s1b") * F.col("s1b") / F.col("nb"))
            / (F.col("nb") - 1),
            F.lit(0.0),
        ),
    ).otherwise(F.lit(0.0))
    se2 = va / F.col("na") + vb / F.col("nb")
    t = F.when(
        (F.col("na") > 1) & (F.col("nb") > 1) & (se2 > 0),
        (ma - mb) / F.sqrt(se2),
    )
    return j.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        "ua",
        "ub",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        (
            F.abs(F.col("na") - F.col("nb")) / (F.col("na") + F.col("nb")) < 0.05
        ).alias("balanced"),
    )


ORACLES["ab_aa_calibration"] = f"""
WITH mom AS (
  SELECT CAST({md5_int_sql("CAST(user_id AS VARCHAR)", 8)} % 2 AS INT) AS arm,
         CAST(COUNT(*) AS DOUBLE) AS n,
         COUNT(DISTINCT user_id) AS n_users,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS s2
  FROM events GROUP BY 1
),
ab AS (
  SELECT a.n AS na, a.n_users AS ua, a.s1 AS s1a, a.s2 AS s2a,
         b.n AS nb, b.n_users AS ub, b.s1 AS s1b, b.s2 AS s2b
  FROM (SELECT * FROM mom WHERE arm = 0) a
  CROSS JOIN (SELECT * FROM mom WHERE arm = 1) b
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, ua, ub,
       ROUND(s1a / na, 6) AS mean_a,
       ROUND(s1b / nb, 6) AS mean_b,
       CASE WHEN na > 1 AND nb > 1 AND se2 > 0
            THEN ROUND((s1a / na - s1b / nb) / SQRT(se2), 6) END AS t_stat,
       ABS(na - nb) / (na + nb) < 0.05 AS balanced
FROM (
  SELECT ab.*,
         CASE WHEN na > 1
              THEN GREATEST((s2a - s1a * s1a / na) / (na - 1), 0) / na
              ELSE 0 END
       + CASE WHEN nb > 1
              THEN GREATEST((s2b - s1b * s1b / nb) / (nb - 1), 0) / nb
              ELSE 0 END AS se2
  FROM ab
)
"""


MIGRATION_YEARS = (1996, 1997)
MIGRATION_QUINTILES = (0.2, 0.4, 0.6, 0.8)


def customer_tier_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A85 — customer value-tier migration matrix: each customer's
    spend quintile in 1996 vs 1997, cross-tabulated — the
    upgraded/downgraded/churned view a retention team reads
    quarterly. Quintile assignment deliberately does NOT use a
    per-year ntile window (a year's customers are one data-sized
    partition at scale — the exact trap the plan sweep bans);
    instead per-year quintile cuts are a 2-row exact-percentile
    aggregate (6dp-rounded on both engines, the A71 discipline)
    broadcast back, and the matrix is one same-key self-join of the
    customer-year frame. Customers absent in a year appear in the
    'none' tier, so churn/acquisition land in the matrix margins
    instead of silently vanishing."""
    orders = load_table(spark, sf_dir, "orders")
    y1, y2 = MIGRATION_YEARS
    spend = (
        orders.filter(F.year("o_orderdate").isin(*MIGRATION_YEARS))
        .groupBy(F.col("o_custkey").alias("cust"), F.year("o_orderdate").alias("y"))
        .agg(dsum("o_totalprice").alias("spend"))
        .persist()
    )
    cuts = spend.groupBy("y").agg(
        *[
            F.round(F.expr(f"percentile(spend, {q})"), 6).alias(f"c{i}")
            for i, q in enumerate(MIGRATION_QUINTILES, 1)
        ]
    )
    tiered = spend.join(F.broadcast(cuts), "y").select(
        "cust",
        "y",
        (
            F.lit(1)
            + sum(
                (F.col("spend") > F.col(f"c{i}")).cast("int")
                for i in range(1, len(MIGRATION_QUINTILES) + 1)
            )
        ).alias("tier"),
    )
    t1 = tiered.filter(F.col("y") == y1).select(
        "cust", F.col("tier").alias("tier_from")
    )
    t2 = tiered.filter(F.col("y") == y2).select(
        "cust", F.col("tier").alias("tier_to")
    )
    return (
        t1.join(t2, "cust", "full_outer")
        .groupBy(
            F.coalesce(F.col("tier_from").cast("string"), F.lit("none")).alias(
                "tier_from"
            ),
            F.coalesce(F.col("tier_to").cast("string"), F.lit("none")).alias(
                "tier_to"
            ),
        )
        .agg(F.count("*").alias("n_customers"))
    )


ORACLES["customer_tier_migration"] = f"""
WITH spend AS (
  SELECT o_custkey AS cust, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders
  WHERE CAST(EXTRACT(year FROM o_orderdate) AS INT) IN {MIGRATION_YEARS}
  GROUP BY 1, 2
),
cuts AS (
  SELECT y,
         {", ".join(f"ROUND(quantile_cont(spend, {q}), 6) AS c{i}" for i, q in enumerate(MIGRATION_QUINTILES, 1))}
  FROM spend GROUP BY y
),
tiered AS (
  SELECT s.cust, s.y,
         1 {" ".join(f"+ CAST(s.spend > c.c{i} AS INT)" for i in range(1, len(MIGRATION_QUINTILES) + 1))} AS tier
  FROM spend s JOIN cuts c ON s.y = c.y
),
t1 AS (SELECT cust, tier AS tier_from FROM tiered WHERE y = {MIGRATION_YEARS[0]}),
t2 AS (SELECT cust, tier AS tier_to FROM tiered WHERE y = {MIGRATION_YEARS[1]})
SELECT COALESCE(CAST(tier_from AS VARCHAR), 'none') AS tier_from,
       COALESCE(CAST(tier_to AS VARCHAR), 'none') AS tier_to,
       COUNT(*) AS n_customers
FROM t1 FULL OUTER JOIN t2 USING (cust)
GROUP BY 1, 2
"""


WEIGHTED_QUANTILES = ("0.25", "0.50", "0.75")


def agg_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A86 — exact WEIGHTED quantiles: the price below which 25/50/75
    % of shipped QUANTITY falls (not 25% of rows — every builtin
    percentile weighs rows equally, which is wrong whenever rows
    carry different mass). No engine builtin exists; the scale-safe
    form is the A72 distributed prefix sum over the WEIGHT column:
    range-partition by (price, tiebreak), per-partition DECIMAL
    weight sums collected once as offsets, within-partition
    cumulative weight + offset, then each quantile is "first row
    whose cumulative weight reaches q·W" — a filter + 1-row min-
    struct aggregate, no global window, no sort to one task. All
    weight arithmetic stays DECIMAL; q·W targets are computed
    exactly from the collected total."""
    li = load_table(spark, sf_dir, "lineitem")
    rows = li.select(
        money("l_extendedprice").alias("v"),
        money("l_quantity").alias("w"),
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
    )
    ranged = (
        rows.repartitionByRange(
            PARETO_PARTITIONS, F.asc("v"), F.asc("k1"), F.asc("k2")
        )
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    parts = sorted(
        (r["_pid"], r["s"])
        for r in ranged.groupBy("_pid").agg(F.sum("w").alias("s")).collect()
    )
    offsets, acc = [], Decimal(0)
    for pid, s in parts:
        offsets.append((pid, acc))
        acc += s
    offs = local_frame(spark, offsets, "_pid int, _woff decimal(38,2)")
    w = (
        W.partitionBy("_pid")
        .orderBy(F.asc("v"), F.asc("k1"), F.asc("k2"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = ranged.join(F.broadcast(offs), "_pid").withColumn(
        "cumw", F.sum("w").over(w) + F.col("_woff")
    )
    out = None
    for q in WEIGHTED_QUANTILES:
        # exact 4dp target (2dp weights × 2dp fraction) — NO rounding:
        # a quantized target could disagree with the oracle's exact
        # W·q compare on a boundary row
        target = acc * Decimal(q)
        hit = (
            cum.filter(F.col("cumw") >= F.lit(str(target)).cast("decimal(38,4)"))
            .agg(F.min(F.struct("cumw", "v")).alias("m"))
            .select(
                F.lit(float(q)).alias("q"),
                F.col("m.v").cast("double").alias("weighted_value"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


ORACLES["agg_weighted_quantiles"] = f"""
WITH rows_ AS (
  SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
         CAST(l_quantity AS DECIMAL(18,2)) AS w,
         l_orderkey AS k1, l_linenumber AS k2
  FROM lineitem
),
cum AS (
  SELECT v, SUM(w) OVER (ORDER BY v ASC, k1 ASC, k2 ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
  FROM rows_
),
tot AS (SELECT SUM(w) AS wtot FROM rows_)
{" UNION ALL ".join(
    f'''SELECT CAST({q} AS DOUBLE) AS q,
       CAST(MIN(v) FILTER (WHERE cumw >= (SELECT wtot * {q} FROM tot)) AS DOUBLE) AS weighted_value
FROM cum'''
    for q in WEIGHTED_QUANTILES)}
"""


def revenue_gini_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A87 — Gini concentration index of customer spend: the
    inequality scalar (0 = uniform, →1 = one whale) a marketplace
    tracks next to A72's Pareto view. G = (2·Σᵢ rᵢxᵢ − (n+1)·Σx) /
    (n·Σx) over ascending-sorted spend — needs every row's GLOBAL
    rank, which is A41's range-partition + broadcast-offset core
    (global_rank_frame), never a one-task window. Σ rᵢxᵢ accumulates
    rank·DECIMAL exactly, so both engines derive the identical
    double before the 6dp edge; ties in spend are rank-order
    invariant (equal x swaps don't move Σ r·x) but carry the custkey
    tiebreak anyway for a deterministic frame."""
    from proceso_de_etl_spark.operators.relational import global_rank_frame

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(money("o_totalprice")).alias("x")
    )
    ranked, n = global_rank_frame(spend, [F.asc("x"), F.asc("cust")])
    agg = ranked.agg(
        F.sum(F.col("rank") * F.col("x")).alias("srx"),
        F.sum("x").alias("sx"),
    )
    srx, sx = F.col("srx").cast("double"), F.col("sx").cast("double")
    return agg.select(
        F.lit(n).cast("bigint").alias("n_customers"),
        sx.alias("total_spend"),
        F.round((2 * srx - (n + 1) * sx) / (n * sx), 6).alias("gini"),
    )


ORACLES["revenue_gini_index"] = """
WITH spend AS (
  SELECT o_custkey AS cust, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT x, CAST(row_number() OVER (ORDER BY x ASC, cust ASC) AS BIGINT) AS rank
  FROM spend
),
agg AS (
  SELECT CAST(SUM(rank * x) AS DOUBLE) AS srx, CAST(SUM(x) AS DOUBLE) AS sx,
         COUNT(*) AS n
  FROM ranked
)
SELECT n AS n_customers, sx AS total_spend,
       ROUND((2 * srx - (n + 1) * sx) / (n * sx), 6) AS gini
FROM agg
"""


def _pair_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared frame for the nonparametric pair tests (A98/A99): for
    every ordered event-type pair and every distinct `value` present
    in either side, the two per-side occurrence counts (0 where the
    value is absent). One scan → per-(type, value) counts → the
    #types²-bounded pair fan-out is a broadcast join; the full-outer
    on (pair, value) shuffles on the pair+value key only. Exact
    integers throughout — ranks and ECDFs derive from these counts,
    never from per-row windows over the raw events."""
    # NULL values excluded explicitly: the engines disagree on NULL
    # sort position (Spark nulls-first vs DuckDB nulls-last), and a
    # rank/ECDF over "no measurement" is meaningless anyway
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cnt = ev.groupBy("event_type", "value").agg(F.count("*").alias("c"))
    types = ev.select("event_type").distinct()
    pairs = types.select(F.col("event_type").alias("type_a")).join(
        types.select(F.col("event_type").alias("type_b")),
        F.col("type_a") < F.col("type_b"),
    )
    av = cnt.join(
        F.broadcast(pairs), F.col("event_type") == F.col("type_a")
    ).select("type_a", "type_b", "value", F.col("c").alias("ca"))
    bv = cnt.join(
        F.broadcast(pairs), F.col("event_type") == F.col("type_b")
    ).select("type_a", "type_b", "value", F.col("c").alias("cb"))
    return (
        av.join(bv, ["type_a", "type_b", "value"], "full_outer")
        .select(
            "type_a",
            "type_b",
            "value",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )


def ab_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A98 — Mann-Whitney U (Wilcoxon rank-sum) matrix: for every
    ordered event-type pair, the U statistic of side A computed
    EXACTLY from doubled average ranks — with ties, the average rank
    of value v in the pair's union is (2·c_less(v) + c_eq(v) + 1)/2,
    so the DOUBLED statistic 2·U_A = Σ_v ca(v)·(2·cumB_less(v) +
    cb(v)) stays a BIGINT with no float anywhere; the tie-corrected
    normal z follows from those integers in one engine-identical
    expression chain (the A74 discipline). The nonparametric
    complement to ab_welch_ttest: same experimentation surface, no
    normality assumption, immune to the heavy tails A79 screens for.

    Scale: ranks are NEVER assigned per row — the whole test runs on
    the per-(pair, distinct value) count frame, so the windowed pass
    is over |values|·|pairs| rows, and the window key is the pair
    (types² partitions, each sorted once). The per-pair cumsum is
    sequential over DISTINCT values — bounded by the metric's domain
    cardinality, not the row count; for an unbounded-domain metric at
    100 TB, quantize the value first (e.g. 6dp) — the test is already
    tie-aware, so binning only coarsens it, never breaks it.
    Degenerate pairs (all values tied → σ=0) yield NULL z on both
    engines.
    Ref: reference has no testing surface; extends main.py:117-169's
    derived-measure discipline to inference."""
    pv = _pair_value_counts(spark, sf_dir)
    w = (
        W.partitionBy("type_a", "type_b")
        .orderBy("value")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ranked = pv.select(
        "type_a",
        "type_b",
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(w), F.lit(0)).alias("cum_less_b"),
    )
    g = ranked.groupBy("type_a", "type_b").agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.sum(F.col("ca") * (2 * F.col("cum_less_b") + F.col("cb")))
        .cast("bigint")
        .alias("u_a_x2"),
        F.sum(
            (F.col("ca") + F.col("cb"))
            * (F.col("ca") + F.col("cb"))
            * (F.col("ca") + F.col("cb"))
            - (F.col("ca") + F.col("cb"))
        )
        .cast("bigint")
        .alias("tie_term"),
    )
    n = F.col("na") + F.col("nb")
    var12 = (F.col("na") * F.col("nb")) * (
        (n + 1) - F.col("tie_term") / (n * (n - 1))
    )
    z = F.when(
        var12 > 0,
        (F.col("u_a_x2") - F.col("na") * F.col("nb"))
        / (F.lit(2.0) * F.sqrt(var12 / F.lit(12.0))),
    )
    return g.select(
        "type_a",
        "type_b",
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "u_a_x2",
        "tie_term",
        F.round(z, 6).alias("z_stat"),
    ).orderBy("type_a", "type_b")


ORACLES["ab_mann_whitney"] = """
WITH cnt AS (
  SELECT event_type, value, COUNT(*) AS c FROM events
  WHERE value IS NOT NULL GROUP BY 1, 2
),
types AS (SELECT DISTINCT event_type FROM events WHERE value IS NOT NULL),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM types a JOIN types b ON a.event_type < b.event_type
),
pv AS (
  SELECT COALESCE(av.type_a, bv.type_a) AS type_a,
         COALESCE(av.type_b, bv.type_b) AS type_b,
         COALESCE(av.value, bv.value) AS value,
         COALESCE(av.ca, 0) AS ca, COALESCE(bv.cb, 0) AS cb
  FROM (SELECT p.type_a, p.type_b, c.value, c.c AS ca
        FROM cnt c JOIN pairs p ON c.event_type = p.type_a) av
  FULL OUTER JOIN
       (SELECT p.type_a, p.type_b, c.value, c.c AS cb
        FROM cnt c JOIN pairs p ON c.event_type = p.type_b) bv
  ON av.type_a = bv.type_a AND av.type_b = bv.type_b AND av.value = bv.value
),
ranked AS (
  SELECT type_a, type_b, ca, cb,
         COALESCE(SUM(cb) OVER (PARTITION BY type_a, type_b ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_less_b
  FROM pv
),
g AS (
  SELECT type_a, type_b,
         CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
         CAST(SUM(ca * (2 * cum_less_b + cb)) AS BIGINT) AS u_a_x2,
         CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS BIGINT) AS tie_term
  FROM ranked GROUP BY 1, 2
)
SELECT type_a, type_b, na AS n_a, nb AS n_b, u_a_x2, tie_term,
       CASE WHEN (na * nb) * ((na + nb + 1) - tie_term / ((na + nb) * (na + nb - 1))) > 0
            THEN ROUND((u_a_x2 - na * nb)
                 / (2.0 * SQRT((na * nb) * ((na + nb + 1)
                      - tie_term / ((na + nb) * (na + nb - 1))) / 12.0)), 6)
       END AS z_stat
FROM g ORDER BY type_a, type_b
"""


def ab_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A99 — two-sample Kolmogorov-Smirnov matrix: per event-type
    pair, the supremum ECDF distance D, its INTEGER numerator
    d_num = max_v |nb·cumA≤(v) − na·cumB≤(v)| (BIGINT — the ECDF
    difference over the common denominator na·nb, so the max and the
    argmax comparison are exact with no float ordering anywhere),
    and the α=0.05 decision against the large-sample critical value
    1.358·√((na+nb)/(na·nb)). The decision compares the 6dp-ROUNDED
    statistic to the 6dp-ROUNDED critical value — both already
    gate-compared outputs — so the boolean replays exactly on any
    engine. Distribution-shape complement to A98's location shift:
    KS sees variance/shape changes a rank test misses.

    Scale: same per-(pair, distinct value) count frame as A98 — one
    windowed cumsum per pair partition, max-aggregated; no per-row
    ranks, no all-pairs row join; same distinct-value quantization
    knob as A98 when the metric domain is unbounded."""
    pv = _pair_value_counts(spark, sf_dir)
    w = (
        W.partitionBy("type_a", "type_b")
        .orderBy("value")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = pv.select(
        "type_a",
        "type_b",
        "ca",
        "cb",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    tot = cum.groupBy("type_a", "type_b").agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    d = (
        cum.join(F.broadcast(tot), ["type_a", "type_b"])
        .groupBy("type_a", "type_b")
        .agg(
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
            F.max(
                F.abs(F.col("nb") * F.col("cum_a") - F.col("na") * F.col("cum_b"))
            )
            .cast("bigint")
            .alias("d_num"),
        )
    )
    d_stat = F.round(
        F.col("d_num") / (F.col("na") * F.col("nb")).cast("double"), 6
    )
    crit = F.round(
        F.lit(1.358)
        * F.sqrt(
            (F.col("na") + F.col("nb"))
            / (F.col("na") * F.col("nb")).cast("double")
        ),
        6,
    )
    return d.select(
        "type_a",
        "type_b",
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "d_num",
        d_stat.alias("d_stat"),
        crit.alias("crit_95"),
        (d_stat > crit).alias("reject_95"),
    ).orderBy("type_a", "type_b")


ORACLES["ab_ks_test"] = """
WITH cnt AS (
  SELECT event_type, value, COUNT(*) AS c FROM events
  WHERE value IS NOT NULL GROUP BY 1, 2
),
types AS (SELECT DISTINCT event_type FROM events WHERE value IS NOT NULL),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM types a JOIN types b ON a.event_type < b.event_type
),
pv AS (
  SELECT COALESCE(av.type_a, bv.type_a) AS type_a,
         COALESCE(av.type_b, bv.type_b) AS type_b,
         COALESCE(av.value, bv.value) AS value,
         COALESCE(av.ca, 0) AS ca, COALESCE(bv.cb, 0) AS cb
  FROM (SELECT p.type_a, p.type_b, c.value, c.c AS ca
        FROM cnt c JOIN pairs p ON c.event_type = p.type_a) av
  FULL OUTER JOIN
       (SELECT p.type_a, p.type_b, c.value, c.c AS cb
        FROM cnt c JOIN pairs p ON c.event_type = p.type_b) bv
  ON av.type_a = bv.type_a AND av.type_b = bv.type_b AND av.value = bv.value
),
cum AS (
  SELECT type_a, type_b, ca, cb,
         SUM(ca) OVER (PARTITION BY type_a, type_b ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(cb) OVER (PARTITION BY type_a, type_b ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM pv
),
tot AS (
  SELECT type_a, type_b,
         CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
  FROM pv GROUP BY 1, 2
),
d AS (
  SELECT c.type_a, c.type_b, t.na, t.nb,
         CAST(MAX(ABS(t.nb * c.cum_a - t.na * c.cum_b)) AS BIGINT) AS d_num
  FROM cum c JOIN tot t ON t.type_a = c.type_a AND t.type_b = c.type_b
  GROUP BY 1, 2, t.na, t.nb
)
SELECT type_a, type_b, na AS n_a, nb AS n_b, d_num,
       ROUND(d_num / CAST(na * nb AS DOUBLE), 6) AS d_stat,
       ROUND(1.358 * SQRT((na + nb) / CAST(na * nb AS DOUBLE)), 6) AS crit_95,
       ROUND(d_num / CAST(na * nb AS DOUBLE), 6)
         > ROUND(1.358 * SQRT((na + nb) / CAST(na * nb AS DOUBLE)), 6) AS reject_95
FROM d ORDER BY type_a, type_b
"""


import math as _math

BOOT_REPS = 20
# Poisson(1) inverse-CDF thresholds over the md5-60-bit uniform:
# replicate weight w = #{k : u60 >= floor(CDF(k-1)·2^60)}, capped at 7
# (tail mass past w=7 is ~1e-6 and lands on 7 — same rule on both
# engines). The constants are Python-float CDF values scaled once at
# import and injected as identical literals into the Spark expression
# and the oracle SQL, so there is no float boundary to disagree on.
_POIS_THRESH: list[int] = []
_cum = 0.0
for _k in range(7):
    _cum += _math.exp(-1.0) / _math.factorial(_k)
    _POIS_THRESH.append(int(_cum * (1 << 60)))


def ab_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A101 — deterministic Poisson bootstrap: per event type, the
    bootstrap standard error (and normal-approx CI) of the mean of
    `value`, from BOOT_REPS resampling replicates whose weights are
    Poisson(1) draws seeded by md5(event_id, replicate) — the
    streaming-friendly online bootstrap (each row's weight needs no
    global state), made REPLAYABLE: the md5-60-bit uniform and the
    scaled integer CDF thresholds reproduce the exact same weights on
    any engine, any partitioning, any run. Replicate means round to
    6dp and are then accumulated as exact DECIMAL(18,6) sums (the
    dsum discipline), so the SE derives from engine-identical
    numbers; σ=point±1.96·se closes the report.

    Scale: the explode is events × BOOT_REPS rows feeding a partial
    (map-side-combined) aggregation to types × BOOT_REPS rows — the
    standard online-bootstrap cost (B hashes per row), no shuffle
    wider than the replicate ledger. At 100 TB the B knob trades CI
    resolution for compute linearly.
    Ref: reference has no inference surface; Owen & Eckles (2012)
    pattern, portable-hash discipline from dedup.py:167-190."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    u60 = md5_int(F.concat(F.lit("boot:"), F.col("event_id"), F.lit(":"), F.col("b")), 15)
    w = sum(
        (u60 >= F.lit(t)).cast("bigint") for t in _POIS_THRESH
    )
    rep = (
        ev.select(
            "event_type",
            "event_id",
            "value",
            F.explode(F.sequence(F.lit(0), F.lit(BOOT_REPS - 1))).alias("b"),
        )
        .select("event_type", "b", w.alias("w"), "value")
        .groupBy("event_type", "b")
        .agg(
            F.sum("w").alias("nw"),
            F.sum(
                (F.col("w") * F.col("value")).cast("decimal(18,6)")
            ).alias("ws"),
        )
    )
    # nw=0 (a replicate zero-weighting an entire type) is impossible
    # past a handful of rows, but Spark's x/0 -> NULL vs DuckDB's
    # IEEE inf would diverge — pin the degenerate case to 0 on both
    means = rep.select(
        "event_type",
        F.when(
            F.col("nw") > 0, F.round(F.col("ws").cast("double") / F.col("nw"), 6)
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(18,6)")
        .alias("m"),
    )
    summ = means.groupBy("event_type").agg(
        F.sum("m").alias("s1"), F.sum(F.col("m") * F.col("m")).alias("s2")
    )
    base = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("vs"),
    )
    j = base.join(summ, "event_type")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    b = F.lit(float(BOOT_REPS))
    se = F.sqrt(
        F.greatest((s2 - s1 * s1 / b) / (b - F.lit(1.0)), F.lit(0.0))
    )
    point = F.col("vs").cast("double") / F.col("n_events")
    return j.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.lit(BOOT_REPS).cast("bigint").alias("boot_reps"),
        F.round(point, 6).alias("point_mean"),
        F.round(se, 6).alias("boot_se"),
        F.round(point - F.lit(1.96) * se, 6).alias("ci_lo"),
        F.round(point + F.lit(1.96) * se, 6).alias("ci_hi"),
    ).orderBy("event_type")


def _bootstrap_se_oracle_sql() -> str:
    thresh = " + ".join(
        f"CASE WHEN u60 >= {t} THEN 1 ELSE 0 END" for t in _POIS_THRESH
    )
    return f"""
WITH ev AS (
  SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL
),
expl AS (
  SELECT event_type, event_id, value, unnest(range(0, {BOOT_REPS})) AS b
  FROM ev
),
wts AS (
  SELECT event_type, b, value,
         {thresh} AS w
  FROM (
    SELECT event_type, b, value,
           {md5_int_sql("concat('boot:', event_id, ':', b)", 15)} AS u60
    FROM expl
  )
),
rep AS (
  SELECT event_type, b, SUM(w) AS nw,
         SUM(CAST(w * value AS DECIMAL(18,6))) AS ws
  FROM wts GROUP BY 1, 2
),
means AS (
  SELECT event_type,
         CAST(CASE WHEN nw > 0 THEN ROUND(CAST(ws AS DOUBLE) / nw, 6)
              ELSE 0.0 END AS DECIMAL(18,6)) AS m
  FROM rep
),
summ AS (
  SELECT event_type, SUM(m) AS s1, SUM(m * m) AS s2 FROM means GROUP BY 1
),
base AS (
  SELECT event_type, COUNT(*) AS n_events,
         SUM(CAST(value AS DECIMAL(18,6))) AS vs
  FROM ev GROUP BY 1
)
SELECT b.event_type, CAST(b.n_events AS BIGINT) AS n_events,
       CAST({BOOT_REPS} AS BIGINT) AS boot_reps,
       ROUND(CAST(b.vs AS DOUBLE) / b.n_events, 6) AS point_mean,
       ROUND(SQRT(GREATEST((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / {float(BOOT_REPS)!r}) / ({float(BOOT_REPS)!r} - 1.0), 0.0)), 6) AS boot_se,
       ROUND(CAST(b.vs AS DOUBLE) / b.n_events - 1.96 * SQRT(GREATEST((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / {float(BOOT_REPS)!r}) / ({float(BOOT_REPS)!r} - 1.0), 0.0)), 6) AS ci_lo,
       ROUND(CAST(b.vs AS DOUBLE) / b.n_events + 1.96 * SQRT(GREATEST((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / {float(BOOT_REPS)!r}) / ({float(BOOT_REPS)!r} - 1.0), 0.0)), 6) AS ci_hi
FROM base b JOIN summ s ON s.event_type = b.event_type
ORDER BY b.event_type
"""


ORACLES["ab_bootstrap_se"] = _bootstrap_se_oracle_sql()


CHI2_SCALE = 10**9  # per-cell term unit. Exactness window: the
# int128 intermediate d²·SCALE (d = O·n − r·c ≤ n²) must stay inside
# DECIMAL(38,0)/HUGEINT, i.e. n ≤ ~2e7 rows at SCALE 1e9; past that
# drop CHI2_SCALE a decade per 100× rows (the PRL_SCALE rule).


def events_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A100 — χ² test of independence (event_type × day-of-week):
    the categorical member of the testing battery (A74 location /
    A98 rank / A99 shape / A100 association). The statistic is
    EXACT-integer: with d = O·n − r·c per cell (including the
    structural-zero cells — margins cross-joined, observed
    left-joined), χ²·SCALE = Σ FLOOR(d²·SCALE / (n·r·c)), each floor
    term computed in 128-bit integer arithmetic (Spark DECIMAL(38,0)
    `div` == DuckDB HUGEINT `//`, equality property-tested — d² ≥ 0
    so truncation IS floor) — an unordered BIGINT sum, bit-identical
    on any engine at any parallelism, where the textbook Σ(O−E)²/E
    over doubles would be addition-order-dependent. Cramér's V and
    the 6dp χ² derive from that one integer. Day-of-week is the
    portable epoch-day mod 7 (Spark's dayofweek() is 1-7
    Sunday-first, DuckDB's 0-6 — neither matches the other).

    Scale: one scan → two tiny margin aggregates → an R×C-row
    broadcast cross join; nothing data-sized past the first groupBy.
    Ref: reference has no testing surface."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("pmod(datediff(to_date(ts), to_date('1970-01-01')), 7)").alias("dow"),
    )
    obs = ev.groupBy("event_type", "dow").agg(F.count("*").alias("o"))
    rowm = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    colm = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    cells = (
        rowm.crossJoin(F.broadcast(colm))
        .join(obs, ["event_type", "dow"], "left")
        .join(F.broadcast(tot))
        .select(
            "event_type",
            "dow",
            "r",
            "c",
            "n",
            (F.coalesce("o", F.lit(0)) * F.col("n") - F.col("r") * F.col("c")).alias("d"),
        )
    )
    terms = cells.select(
        "n",
        "event_type",
        "dow",
        F.expr(
            f"(CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0)) * {CHI2_SCALE})"
            " div (CAST(n AS DECIMAL(38,0)) * r * c)"
        ).alias("t"),
    )
    g = terms.agg(
        F.first("n").alias("n"),
        F.countDistinct("event_type").alias("nr"),
        F.countDistinct("dow").alias("nc"),
        F.sum("t").cast("bigint").alias("chi2_scaled"),
    )
    minrc = F.least(F.col("nr") - 1, F.col("nc") - 1)
    return g.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("nr").cast("bigint").alias("n_rows"),
        F.col("nc").cast("bigint").alias("n_cols"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("df"),
        "chi2_scaled",
        F.round(F.col("chi2_scaled") / F.lit(float(CHI2_SCALE)), 6).alias("chi2"),
        F.round(
            F.sqrt(
                (F.col("chi2_scaled") / F.lit(float(CHI2_SCALE)))
                / (F.col("n") * minrc)
            ),
            6,
        ).alias("cramers_v"),
    )


ORACLES["events_chi2_independence"] = f"""
WITH ev AS (
  SELECT event_type,
         ((CAST(ts AS DATE) - DATE '1970-01-01') % 7 + 7) % 7 AS dow
  FROM events
),
obs AS (SELECT event_type, dow, COUNT(*) AS o FROM ev GROUP BY 1, 2),
rowm AS (SELECT event_type, SUM(o) AS r FROM obs GROUP BY 1),
colm AS (SELECT dow, SUM(o) AS c FROM obs GROUP BY 1),
tot AS (SELECT SUM(o) AS n FROM obs),
cells AS (
  SELECT rm.event_type, cm.dow, rm.r, cm.c, t.n,
         COALESCE(ob.o, 0) * t.n - rm.r * cm.c AS d
  FROM rowm rm CROSS JOIN colm cm
  LEFT JOIN obs ob ON ob.event_type = rm.event_type AND ob.dow = cm.dow
  CROSS JOIN tot t
),
terms AS (
  SELECT n, event_type, dow,
         CAST(d AS HUGEINT) * CAST(d AS HUGEINT) * {CHI2_SCALE}
           // (CAST(n AS HUGEINT) * r * c) AS t
  FROM cells
),
g AS (
  SELECT MAX(n) AS n, COUNT(DISTINCT event_type) AS nr,
         COUNT(DISTINCT dow) AS nc, CAST(SUM(t) AS BIGINT) AS chi2_scaled
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n, CAST(nr AS BIGINT) AS n_rows,
       CAST(nc AS BIGINT) AS n_cols,
       CAST((nr - 1) * (nc - 1) AS BIGINT) AS df,
       chi2_scaled,
       ROUND(chi2_scaled / {float(CHI2_SCALE)!r}, 6) AS chi2,
       ROUND(SQRT((chi2_scaled / {float(CHI2_SCALE)!r})
            / (n * LEAST(nr - 1, nc - 1))), 6) AS cramers_v
FROM g
"""


def ab_test_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A104 — the composed experimentation report: one row per
    event-type pair carrying the parametric location test (A74 Welch
    t), the nonparametric location test (A98 Mann-Whitney z), and
    the distribution-shape test (A99 KS D + reject flag) side by
    side, plus a consensus flag (both location tests clear |2| — the
    cross-check an experimentation platform actually acts on: a
    Welch hit that MWU doesn't confirm usually means outliers, the
    reverse means heavy ties). Pure three-way join of the three
    audited operators on the pair key — every number in this report
    is ALREADY driver-verified in its own key, so the composition
    oracle is the three oracle CTEs joined (the T17/T52 pipeline
    discipline: stage-boundary bugs can't hide).

    Scale: the three components share the events scan shape; the
    join is #pairs-sized (types² rows). Note A74 keys pairs
    (type_a < type_b) exactly like A98/A99 — no orientation fixup.

    Sample-size accounting (r7 advisor): Welch's n counts every row
    (COUNT(*)), while z/D are computed over the value-non-null
    sample — one n cannot describe both. The report carries BOTH:
    n_a/n_b are the nonparametric (value-non-null) counts from A98
    that z_stat/d_stat are actually computed over; n_a_all/n_b_all
    are Welch's all-rows counts."""
    welch = ab_welch_ttest(spark, sf_dir).select(
        "type_a",
        "type_b",
        F.col("n_a").alias("n_a_all"),
        F.col("n_b").alias("n_b_all"),
        "t_stat",
        "welch_df",
    )
    mwu = ab_mann_whitney(spark, sf_dir).select(
        "type_a", "type_b", "n_a", "n_b", "z_stat"
    )
    ks = ab_ks_test(spark, sf_dir).select(
        "type_a", "type_b", "d_stat", "reject_95"
    )
    j = welch.join(mwu, ["type_a", "type_b"]).join(ks, ["type_a", "type_b"])
    sig = (F.abs(F.col("t_stat")) > 2.0) & (F.abs(F.col("z_stat")) > 2.0)
    return j.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_a_all",
        "n_b_all",
        "t_stat",
        "welch_df",
        "z_stat",
        "d_stat",
        F.col("reject_95").alias("ks_reject_95"),
        F.coalesce(sig, F.lit(False)).alias("location_consensus"),
    ).orderBy("type_a", "type_b")


def _test_battery_oracle_sql() -> str:
    # each component oracle is a complete WITH...SELECT; parenthesized
    # as a CTE body its inner WITH is scoped locally, so the shared
    # cnt/types/pairs/pv names of A98/A99 cannot collide
    return f"""
WITH welch_src AS ({ORACLES["ab_welch_ttest"].strip()}),
mwu_src AS ({ORACLES["ab_mann_whitney"].strip()}),
ks_src AS ({ORACLES["ab_ks_test"].strip()})
SELECT w.type_a, w.type_b, m.n_a, m.n_b,
       w.n_a AS n_a_all, w.n_b AS n_b_all, w.t_stat, w.welch_df,
       m.z_stat, k.d_stat, k.reject_95 AS ks_reject_95,
       COALESCE(ABS(w.t_stat) > 2.0 AND ABS(m.z_stat) > 2.0, FALSE) AS location_consensus
FROM welch_src w
JOIN mwu_src m ON m.type_a = w.type_a AND m.type_b = w.type_b
JOIN ks_src k ON k.type_a = w.type_a AND k.type_b = w.type_b
ORDER BY w.type_a, w.type_b
"""


ORACLES["ab_test_battery"] = _test_battery_oracle_sql()


QUERIES = {
    "agg_weighted_quantiles": agg_weighted_quantiles,
    "revenue_gini_index": revenue_gini_index,
    "customer_tier_migration": customer_tier_migration,
    "ab_aa_calibration": ab_aa_calibration,
    "item_similarity_cf": item_similarity_cf,
    "agg_robust_outliers": agg_robust_outliers,
    "agg_group_ols": agg_group_ols,
    "basket_pair_counts": basket_pair_counts,
    "market_basket_rules": market_basket_rules,
    "events_markov_transitions": events_markov_transitions,
    "customer_rfm_segments": customer_rfm_segments,
    "pareto_abc_classes": pareto_abc_classes,
    "sales_growth_report": sales_growth_report,
    "ab_welch_ttest": ab_welch_ttest,
    "ab_mann_whitney": ab_mann_whitney,
    "ab_ks_test": ab_ks_test,
    "events_chi2_independence": events_chi2_independence,
    "ab_bootstrap_se": ab_bootstrap_se,
    "ab_test_battery": ab_test_battery,
}
