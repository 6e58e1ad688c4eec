"""Event-stream operators, batch form (SURVEY.md §2.2 A23-A26).

These are the batch twins of the streaming jobs in ``streaming/``:
sessionization, time-bucketed aggregation, funnel analysis, as-of
join, and JSON property extraction over the ``events`` table.

Timestamps in OUTPUTS are emitted as epoch-microsecond BIGINTs
(``unix_micros``) — exact, engine-neutral values that hash stably;
raw timestamps stay internal.

Scale: everything partitions by ``user_id`` (high cardinality, no
global windows); the as-of join is the union-tag/last-carry-forward
formulation — one shuffle on user_id, no per-row Python, no
correlated subquery that would nested-loop at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from proceso_de_etl_spark import cachereg
from proceso_de_etl_spark.functions.columns import dsum, money
from proceso_de_etl_spark.operators.windows import ranked_topk
from proceso_de_etl_spark.sources.catalog import load_table
from proceso_de_etl_spark.sources.local import local_frame

ORACLES: dict[str, str] = {}

SESSION_GAP_MIN = 30


def sessionize(events: DataFrame, gap_minutes: int = SESSION_GAP_MIN) -> DataFrame:
    """Assign gap-based session ids per user: a new session starts
    when the gap since the previous event exceeds ``gap_minutes``.
    lag + conditional cumsum over a total per-user order."""
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap_us = gap_minutes * 60 * 1_000_000
    prev_ts = F.lag(F.unix_micros(F.col("ts"))).over(w)
    is_new = F.when(
        prev_ts.isNull() | (F.unix_micros(F.col("ts")) - prev_ts > gap_us), 1
    ).otherwise(0)
    return events.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("bigint"),
    )


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23 — per-session rollup: event count, value sum, duration."""
    ev = load_table(spark, sf_dir, "events")
    return (
        sessionize(ev)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value"), 6).alias("session_value"),
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias("duration_us"),
        )
    )


ORACLES["events_sessionize"] = """
WITH seq AS (
  SELECT user_id, event_id, value, ts,
         lag(epoch_us(ts)) OVER w AS prev_us,
         epoch_us(ts) AS ts_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
flagged AS (
  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 30*60*1000000
                 THEN 1 ELSE 0 END AS is_new
  FROM seq
),
sess AS (
  SELECT user_id, event_id, value, ts_us,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value,
       MAX(ts_us) - MIN(ts_us) AS duration_us
FROM sess
GROUP BY user_id, session_id
"""


def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24 — fixed-window (hourly) aggregation via the native
    ``F.window`` operator; output keyed by epoch-us window start."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value"), 6).alias("value_sum"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "value_sum",
        )
    )


ORACLES["events_tumbling_window"] = """
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
"""


def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A39 — hopping (sliding) window aggregation: 1-hour windows
    every 15 minutes, so each event lands in exactly 4 overlapping
    windows — the moving-average / trailing-rate shape tumbling
    windows can't express. Spark's native F.window handles the
    4-window replication inside the aggregation (no explicit explode
    on our side); the oracle makes the same replication explicit with
    a 0..3 offset unnest against epoch-aligned 15-minute starts."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value"), 6).alias("value_sum"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "value_sum",
        )
    )


ORACLES["events_hopping_window"] = """
WITH exploded AS (
  SELECT (epoch_us(ts) // 900000000) * 900000000 - k * 900000000 AS window_start_us,
         event_type, value
  FROM events, unnest(generate_series(0, 3)) AS t(k)
)
SELECT window_start_us, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM exploded
GROUP BY 1, 2
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A25 — ordered funnel signup → click → purchase per user: one
    conditional-min aggregation pass (no self-joins)."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.unix_micros("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return per_user.filter(
        F.col("t_signup").isNotNull()
        & F.col("t_click").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_signup") < F.col("t_click"))
        & (F.col("t_click") < F.col("t_purchase"))
    )


ORACLES["events_funnel"] = """
SELECT user_id,
       MIN(CASE WHEN event_type = 'signup'   THEN epoch_us(ts) END) AS t_signup,
       MIN(CASE WHEN event_type = 'click'    THEN epoch_us(ts) END) AS t_click,
       MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
FROM events
GROUP BY user_id
HAVING t_signup IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
   AND t_signup < t_click AND t_click < t_purchase
"""


def asof_join_last_prior(
    left: DataFrame, right: DataFrame, on: str, left_ts: str, right_ts: str, value_col: str
) -> DataFrame:
    """A26 — as-of join: each left row gets the last PRIOR-OR-EQUAL
    right value, via union-tag + last(ignorenulls) carry-forward —
    one sort per key partition instead of a per-row lookup. Right
    rows order before left rows at equal timestamps, so an
    equal-timestamp right value IS matched (the common market-data
    as-of contract; for strictly-prior, order left first at ties).
    """
    lt = left.withColumn("__k", F.lit(1)).withColumn("__v", F.lit(None).cast("double"))
    rt = (
        right.select(
            F.col(on),
            F.col(right_ts).alias(left_ts),
            F.lit(0).alias("__k"),
            F.col(value_col).alias("__v"),
        )
    )
    allr = lt.select(on, left_ts, "__k", "__v", *[c for c in left.columns if c not in (on, left_ts)]) \
        .unionByName(rt, allowMissingColumns=True)
    w = (
        W.partitionBy(on)
        .orderBy(F.asc(left_ts), F.asc("__k"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = allr.withColumn("asof_value", F.last("__v", ignorenulls=True).over(w))
    return carried.filter(F.col("__k") == 1).drop("__k", "__v")


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the value of the user's last prior click."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("value").alias("click_value")
    )
    out = asof_join_last_prior(purchases, clicks, "user_id", "ts", "cts", "click_value")
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        "value",
        F.col("asof_value").alias("last_click_value"),
    )


ORACLES["events_asof_join"] = """
WITH tagged AS (
  SELECT user_id, ts, event_id, value, 1 AS k, NULL::DOUBLE AS v
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, NULL, NULL, 0 AS k, value AS v
  FROM events WHERE event_type = 'click'
),
carried AS (
  SELECT user_id, ts, event_id, value, k,
         last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts ASC, k ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
  FROM tagged
)
SELECT user_id, event_id, epoch_us(ts) AS purchase_ts_us, value,
       asof_value AS last_click_value
FROM carried WHERE k = 1
"""


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: the ``props`` JSON column's ``k`` key,
    summed per event type (exact BIGINT sums)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"),
        F.count(k).alias("k_count"),
    )


ORACLES["events_json_extract"] = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_count
FROM events
GROUP BY event_type
"""

def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A47 — VARIANT semi-structured access (Spark 4): ``props``
    parsed ONCE into the binary variant encoding, then typed path
    extraction with `variant_get` — repeated paths read the encoded
    tree instead of re-parsing the JSON string per path, which is
    the cost model that makes wide semi-structured scans viable at
    100 TB (get_json_object re-parses per call; A's
    `events_json_extract` keeps that legacy form for contrast).
    Missing paths (`$.missing`) are NULL under `try_variant_get` —
    counted here to pin the NULL semantics cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    k = F.variant_get("v", "$.k", "bigint")
    missing = F.try_variant_get("v", "$.missing", "bigint")
    return v.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"),
        F.count(k).alias("k_count"),
        F.count(missing).alias("n_missing_present"),
    )


ORACLES["events_variant_extract"] = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_count,
       COUNT(CAST(json_extract_string(props, '$.missing') AS BIGINT)) AS n_missing_present
FROM events
GROUP BY event_type
"""


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: a dense hourly spine per event
    type with zero-filled gaps — the resample step before any
    rolling-window model. Spine = sequence+explode (generated
    column-side, no driver loop), left join actuals, coalesce 0.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count("*").alias("n"), dsum(F.col("value"), 6).alias("value_sum"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine_hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    types = ev.select("event_type").distinct()
    spine = spine_hours.crossJoin(F.broadcast(types))
    return (
        spine.join(hourly, ["h", "event_type"], "left")
        .select(
            F.unix_micros("h").alias("hour_us"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("value_sum", F.lit(0.0)).alias("value_sum"),
        )
    )


ORACLES["events_gap_fill"] = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM events),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
),
typed AS (SELECT h, event_type FROM spine CROSS JOIN (SELECT DISTINCT event_type FROM events))
SELECT epoch_us(t.h) AS hour_us, t.event_type,
       COALESCE(n, 0) AS n, COALESCE(value_sum, 0.0) AS value_sum
FROM typed t LEFT JOIN hourly ON t.h = hourly.h AND t.event_type = hourly.event_type
"""

def events_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-frame rolling aggregate: each event's trailing-1-hour
    count and value sum for its user — RANGE BETWEEN on the physical
    time axis (not row-count frames), the shape behind rate limits,
    rolling features, and anomaly baselines."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = (
        W.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        us.alias("ts_us"),
        F.count("*").over(w).alias("n_trailing_1h"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("value_trailing_1h"),
    )


ORACLES["events_rolling_window"] = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       COUNT(*) OVER w AS n_trailing_1h,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS value_trailing_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""

def events_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/band (theta) join: events classified against a band
    dimension by value interval. The band table is tiny → Catalyst
    plans BroadcastNestedLoopJoin, which is exactly right: each row
    tests 3 intervals scan-side, no shuffle. (For big-both-sides
    range joins, bucketize the range key first — see SURVEY §4.)"""
    ev = load_table(spark, sf_dir, "events")
    bands = local_frame(
        spark,
        [("low", 0.0, 20.0), ("mid", 20.0, 50.0), ("high", 50.0, 1e18)],
        "band string, lo double, hi double",
    )
    joined = ev.join(
        F.broadcast(bands), (ev.value >= bands.lo) & (ev.value < bands.hi)
    )
    return joined.groupBy("band").agg(
        F.count("*").alias("n"),
        dsum(F.col("value"), 6).alias("value_sum"),
    )


ORACLES["events_value_band_join"] = """
WITH bands(band, lo, hi) AS (
  VALUES ('low', 0.0, 20.0), ('mid', 20.0, 50.0), ('high', 50.0, 1e18)
)
SELECT band, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band
"""

def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted by
    weeks-since-cohort activity — the standard product-analytics
    matrix. Two aggregations over one scan; the cohort assignment
    (one row per user — grows with the data, so no broadcast hint)
    joins back onto the distinct activity set on user_id, the key
    both sides already aggregated on."""
    ev = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    firsts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = ev.select("user_id", week.alias("act_week")).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy("cohort_week")
        .agg(
            F.countDistinct("user_id").alias("cohort_size"),
            *[
                F.countDistinct(
                    F.when(
                        F.datediff("act_week", "cohort_week") == 7 * k, F.col("user_id")
                    )
                ).cast("bigint").alias(f"week{k}")
                for k in range(4)
            ],
        )
        .select(F.unix_micros("cohort_week").alias("cohort_week_us"), "cohort_size", "week0", "week1", "week2", "week3")
    )


ORACLES["events_retention_cohorts"] = """
WITH firsts AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
)
SELECT epoch_us(cohort_week) AS cohort_week_us,
       COUNT(DISTINCT a.user_id) AS cohort_size,
       CAST(COUNT(DISTINCT CASE WHEN datediff('day', cohort_week, act_week) = 0  THEN a.user_id END) AS BIGINT) AS week0,
       CAST(COUNT(DISTINCT CASE WHEN datediff('day', cohort_week, act_week) = 7  THEN a.user_id END) AS BIGINT) AS week1,
       CAST(COUNT(DISTINCT CASE WHEN datediff('day', cohort_week, act_week) = 14 THEN a.user_id END) AS BIGINT) AS week2,
       CAST(COUNT(DISTINCT CASE WHEN datediff('day', cohort_week, act_week) = 21 THEN a.user_id END) AS BIGINT) AS week3
FROM activity a JOIN firsts USING (user_id)
GROUP BY cohort_week
"""

def events_interval_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A32 — BIG-BIG time-interval join without a theta join: each
    purchase pairs with the same user's clicks from the preceding
    hour (the batch twin of the stream-stream interval join ST6).

    A raw range-predicate join between two fact-sized sides plans as
    a nested-loop at scale. Bucketizing the time axis to the interval
    width turns it into an EQUI-join: a click in hour-bucket b can
    only match purchases in buckets {b, b+1}, so each purchase probes
    exactly two (user_id, bucket) keys and the exact interval
    predicate remains as a cheap residual filter. Shuffle volume is
    2× the purchase side on a high-cardinality composite key — the
    shape that survives two 100 TB inputs (this is SURVEY §4's
    "bucketize the range key" strategy, realized)."""
    ev = load_table(spark, sf_dir, "events")
    hour_us = 3600 * 1_000_000
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("pts_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("cts_us"),
        (F.unix_micros("ts") / hour_us).cast("bigint").alias("bucket"),
    )
    probes = purchases.withColumn(
        "bucket",
        F.explode(
            F.array(
                (F.col("pts_us") / hour_us).cast("bigint"),
                (F.col("pts_us") / hour_us).cast("bigint") - 1,
            )
        ),
    )
    return (
        probes.join(
            clicks,
            (probes.user_id == clicks.c_user_id) & (probes.bucket == clicks.bucket),
        )
        .filter(
            (F.col("cts_us") >= F.col("pts_us") - hour_us)
            & (F.col("cts_us") < F.col("pts_us"))
        )
        .select(
            "user_id",
            "purchase_id",
            "click_id",
            F.col("pts_us").alias("purchase_ts_us"),
            F.col("cts_us").alias("click_ts_us"),
        )
    )


ORACLES["events_interval_join_bucketed"] = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
       epoch_us(p.ts) AS purchase_ts_us, epoch_us(c.ts) AS click_ts_us
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


ZSCORE_THRESHOLD = 2.0


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A43 — per-type z-score outlier flagging, the streaming-metrics
    anomaly primitive (value more than ``ZSCORE_THRESHOLD`` standard
    deviations from its type's mean). Two-pass shape that scales: a
    tiny per-type moment aggregate (5 rows) broadcast back onto the
    full scan — no window over the fact table, no second wide
    shuffle. Moments accumulate in DECIMAL so mean/std are
    order-independent and the derived double z is bit-identical
    cross-engine (same IEEE ops from identical inputs; see
    functions/columns.py note)."""
    ev = load_table(spark, sf_dir, "events")
    v = money(F.col("value"), 2)
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")) / (
        F.col("n") - 1
    )
    # clamp: the single-pass variance (s2 - s1^2/n) can round slightly
    # negative in double for a (near-)constant group; Spark's sqrt
    # would return NaN while DuckDB's SQRT raises, so both sides
    # clamp to zero identically
    stats = stats.select(
        "event_type",
        mean.alias("mean_v"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("std_v"),
    )
    z = (F.col("value") - F.col("mean_v")) / F.col("std_v")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > F.lit(ZSCORE_THRESHOLD))
        .select("event_id", "event_type", "value", "mean_v", "std_v", "z")
    )


ORACLES["events_anomaly_zscore"] = f"""
WITH s AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS s1,
         SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS s2
  FROM events GROUP BY event_type
),
m AS (
  SELECT event_type,
         CAST(s1 AS DOUBLE) / n AS mean_v,
         SQRT(GREATEST((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1), 0)) AS std_v
  FROM s
)
SELECT e.event_id, e.event_type, e.value, m.mean_v, m.std_v,
       (e.value - m.mean_v) / m.std_v AS z
FROM events e JOIN m USING (event_type)
WHERE ABS((e.value - m.mean_v) / m.std_v) > {ZSCORE_THRESHOLD}
"""


def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A50 — time-weighted average (the metrics/IoT staple): a
    sensor's reading holds until the next reading, so a plain AVG
    over-weights bursts; each value is weighted by how long it was
    CURRENT (lead(ts) − ts). The last observation per user has no
    successor and is excluded — step-function integral semantics.
    One lag-free keyed window (lead) + one aggregation, both on
    user_id; weights are integer microseconds and values accumulate
    in DECIMAL(value×µs) — exact, order-independent; the final
    double quotient is rounded to 6 dp (division is the one step two
    engines may differ on in the last ulp)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    staged = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("ts_us"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    wv = money(F.col("value"), 2) * F.col("dur_us").cast("decimal(18,0)")
    return staged.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.sum("dur_us").cast("bigint").alias("total_dur_us"),
        F.round(F.sum(wv).cast("double") / F.sum("dur_us"), 6).alias("time_weighted_avg"),
    )


ORACLES["events_time_weighted_avg"] = """
WITH staged AS (
  SELECT user_id, value,
         epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
           - epoch_us(ts) AS dur_us
  FROM events
)
SELECT user_id,
       COUNT(*) AS n_intervals,
       CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(dur_us AS DECIMAL(18,0))) AS DOUBLE)
             / SUM(dur_us), 6) AS time_weighted_avg
FROM staged
WHERE dur_us IS NOT NULL
GROUP BY user_id
"""


ROLLING_DISTINCT_WINDOW_H = 4


def events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A57 — trailing COUNT(DISTINCT) over event-time: distinct users
    (and event types) in the 4-hour window ending at each hour bucket.
    Spark window frames cannot express DISTINCT aggregates, and the
    naive formulation — a bucket×events range join — rescans the fact
    table once per bucket. Instead each event is replicated to the W
    hour-buckets whose trailing window contains it (a constant W×
    fan-out applied scan-side, same shape as the hopping-window oracle
    A39), then ONE hash aggregation computes the distinct counts per
    bucket. At 100 TB the cost is a bounded W× shuffle of (bucket,
    user_id) pairs with map-side partial distinct; for large W or
    cardinality-explosive keys, compose with the HLL rollup (A35),
    which makes the trailing union a mergeable sketch instead of a
    replication. Extends the reference's hourly activity reporting
    (main.py:131-160 date-bucketed aggregates) to sliding uniques."""
    ev = load_table(spark, sf_dir, "events")
    slots = ev.select(
        "user_id",
        "event_type",
        F.date_trunc("hour", "ts").alias("h"),
        F.explode(
            F.sequence(F.lit(0), F.lit(ROLLING_DISTINCT_WINDOW_H - 1))
        ).alias("o"),
    )
    return (
        slots.select(
            (
                F.unix_micros(F.col("h")) + F.col("o") * F.lit(3_600_000_000)
            ).alias("bucket_us"),
            "user_id",
            "event_type",
        )
        .groupBy("bucket_us")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct("event_type").alias("n_types"),
            F.count("*").alias("n_events"),
        )
        .orderBy("bucket_us")
    )


ORACLES["events_rolling_distinct"] = f"""
WITH slots AS (
  SELECT epoch_us(date_trunc('hour', ts)) + k * 3600000000 AS bucket_us,
         user_id, event_type
  FROM events, unnest(generate_series(0, {ROLLING_DISTINCT_WINDOW_H - 1})) AS t(k)
)
SELECT bucket_us, COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT event_type) AS n_types, COUNT(*) AS n_events
FROM slots
GROUP BY 1
ORDER BY 1
"""


RANGE_WINDOW_US = 3_600_000_000  # trailing 1 hour, in epoch-micros


def events_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A61 — RANGE-frame windows over event time: for every event,
    the count/sum of the SAME USER's events in the trailing hour —
    a true value-range frame (``rangeBetween`` on epoch-micros), not
    a row-count frame. ROWS frames (A44's matrix) answer "previous k
    events"; RANGE frames answer "previous hour", which is what rate
    limiting, velocity scoring, and fraud features actually need —
    and where engines disagree subtly: a RANGE frame includes ALL
    peers of the current timestamp, so two events in the same
    microsecond see each other (both engines, pinned here by the
    exact-decimal sum). Partitioned by user_id — per-user task
    locality, no global window; the trailing-window-per-BUCKET twin
    at corpus granularity is A57."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-RANGE_WINDOW_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.count("*").over(w).alias("n_trailing_1h"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("sum_trailing_1h"),
    )


ORACLES["events_range_frame_window"] = f"""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       COUNT(*) OVER w AS n_trailing_1h,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_trailing_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {RANGE_WINDOW_US} PRECEDING AND CURRENT ROW)
"""


def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A66 — funnel conversion report: A25's ordered funnel upgraded
    to the numbers a growth dashboard actually shows — per-step user
    counts, step-to-step conversion rates, and median time-to-convert
    between adjacent steps. Same single conditional-min pass over the
    fact table; the report aggregation runs over the user-count-sized
    frame (second agg is tiny). Medians are exact interpolated
    percentiles over integer microsecond deltas (both engines
    interpolate linearly — results end in .0/.5, pinned by rounding
    to 1 decimal)."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.unix_micros("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t1"),
        first_ts("click").alias("t2"),
        first_ts("purchase").alias("t3"),
    )
    staged = per_user.select(
        F.col("t1").isNotNull().alias("s1"),
        (F.col("t1").isNotNull() & F.col("t2").isNotNull() & (F.col("t1") < F.col("t2"))).alias("s2"),
        (
            F.col("t1").isNotNull()
            & F.col("t2").isNotNull()
            & F.col("t3").isNotNull()
            & (F.col("t1") < F.col("t2"))
            & (F.col("t2") < F.col("t3"))
        ).alias("s3"),
        (F.col("t2") - F.col("t1")).alias("d12"),
        (F.col("t3") - F.col("t2")).alias("d23"),
    )
    return staged.agg(
        F.sum(F.col("s1").cast("bigint")).alias("n_signup"),
        F.sum(F.col("s2").cast("bigint")).alias("n_clicked"),
        F.sum(F.col("s3").cast("bigint")).alias("n_purchased"),
        F.round(
            F.sum(F.col("s2").cast("bigint")) / F.sum(F.col("s1").cast("bigint")), 4
        ).alias("conv_click"),
        F.round(
            F.sum(F.col("s3").cast("bigint")) / F.sum(F.col("s2").cast("bigint")), 4
        ).alias("conv_purchase"),
        F.round(F.expr("percentile(CASE WHEN s2 THEN d12 END, 0.5)"), 1).alias("med_us_to_click"),
        F.round(F.expr("percentile(CASE WHEN s3 THEN d23 END, 0.5)"), 1).alias("med_us_to_purchase"),
    )


ORACLES["events_funnel_conversion"] = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup'   THEN epoch_us(ts) END) AS t1,
         MIN(CASE WHEN event_type = 'click'    THEN epoch_us(ts) END) AS t2,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t3
  FROM events GROUP BY user_id
),
staged AS (
  SELECT t1 IS NOT NULL AS s1,
         (t1 IS NOT NULL AND t2 IS NOT NULL AND t1 < t2) AS s2,
         (t1 IS NOT NULL AND t2 IS NOT NULL AND t3 IS NOT NULL
          AND t1 < t2 AND t2 < t3) AS s3,
         t2 - t1 AS d12, t3 - t2 AS d23
  FROM per_user
)
SELECT CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked,
       CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased,
       ROUND(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) * 1.0
             / SUM(CASE WHEN s1 THEN 1 ELSE 0 END), 4) AS conv_click,
       ROUND(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) * 1.0
             / SUM(CASE WHEN s2 THEN 1 ELSE 0 END), 4) AS conv_purchase,
       ROUND(quantile_cont(CASE WHEN s2 THEN d12 END, 0.5), 1) AS med_us_to_click,
       ROUND(quantile_cont(CASE WHEN s3 THEN d23 END, 0.5), 1) AS med_us_to_purchase
FROM staged
"""


def json_function_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A67 — JSON parse-surface matrix: construct a nested document
    (object + nested object + array) scan-side with ``to_json``, then
    extract through every access path a pipeline uses — path string
    (`get_json_object`), TYPED parse (`from_json` with schema →
    struct field access), array indexing, and the missing-key → NULL
    contract — aggregated to checksums. The serialized bytes are
    engine-local (never compared); what must agree is what each
    engine EXTRACTS from the JSON it built from the same rows, so a
    parser that drops precision, mis-indexes arrays, or returns ''
    instead of NULL for absent keys moves a value. Numbers round-trip
    construct→parse exactly (shortest-repr doubles both engines).
    Complements A47 (VARIANT) and the per-event `events_json_extract`
    path with the full matrix."""
    orders = load_table(spark, sf_dir, "orders")
    j = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("id"),
            F.struct(
                F.col("o_orderstatus").alias("s"),
                F.col("o_totalprice").alias("amt"),
            ).alias("nest"),
            F.array(F.col("o_orderkey") % 3, F.col("o_orderkey") % 5).alias("arr"),
        )
    )
    schema = "id BIGINT, nest STRUCT<s: STRING, amt: DOUBLE>, arr ARRAY<BIGINT>"
    staged = orders.select(
        j.alias("j"),
        F.from_json(j, schema).alias("parsed"),
    )
    return staged.agg(
        F.count("*").alias("n"),
        F.sum(F.get_json_object("j", "$.id").cast("bigint")).alias("id_sum"),
        F.countDistinct(F.get_json_object("j", "$.nest.s")).alias("n_status"),
        F.sum(F.get_json_object("j", "$.arr[1]").cast("bigint")).alias("arr1_sum"),
        F.sum(F.get_json_object("j", "$.nope").isNull().cast("bigint")).alias("n_missing_null"),
        F.sum(F.col("parsed.nest.amt").cast("decimal(18,2)")).cast("double").alias("amt_sum"),
        F.sum(F.element_at("parsed.arr", 1)).cast("bigint").alias("typed_arr0_sum"),
    )


ORACLES["json_function_matrix"] = """
WITH staged AS (
  SELECT to_json(struct_pack(
           id := o_orderkey,
           nest := struct_pack(s := o_orderstatus, amt := o_totalprice),
           arr := [o_orderkey % 3, o_orderkey % 5]
         )) AS j
  FROM orders
)
SELECT COUNT(*) AS n,
       CAST(SUM(CAST(j ->> '$.id' AS BIGINT)) AS BIGINT) AS id_sum,
       COUNT(DISTINCT j ->> '$.nest.s') AS n_status,
       CAST(SUM(CAST(j ->> '$.arr[1]' AS BIGINT)) AS BIGINT) AS arr1_sum,
       CAST(SUM(CASE WHEN j ->> '$.nope' IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_null,
       CAST(SUM(CAST(CAST(j ->> '$.nest.amt' AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS amt_sum,
       CAST(SUM(CAST(j ->> '$.arr[0]' AS BIGINT)) AS BIGINT) AS typed_arr0_sum
FROM staged
"""


def asof_direction_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A68 — as-of join direction matrix: BACKWARD (last prior click,
    A26's contract), FORWARD (first subsequent click — the lead-time
    question), and NEAREST (pandas merge_asof's third direction, ties
    to backward), for every purchase, summarized per direction with
    match counts, exact-decimal mean gaps, and nearest-wins counts.
    Both sweeps are the SAME union-tag + last(ignorenulls) carry that
    makes A26 one keyed sort instead of a per-row lookup — forward is
    just the time-reversed ordering (ts DESC, clicks-first at ties, so
    an equal-timestamp click matches in both directions and NEAREST's
    tie rule is exercised). Two windows over one partition sort
    family; no joins at all."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("k"),
        "event_id",
    )
    click_ts = F.when(F.col("k") == 0, F.col("t"))
    w_b = (
        W.partitionBy("user_id")
        .orderBy(F.asc("t"), F.asc("k"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_f = (
        W.partitionBy("user_id")
        .orderBy(F.desc("t"), F.asc("k"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    marked = base.withColumn(
        "b_ts", F.last(click_ts, ignorenulls=True).over(w_b)
    ).withColumn("f_ts", F.last(click_ts, ignorenulls=True).over(w_f))
    p = marked.filter(F.col("k") == 1).select(
        (F.col("t") - F.col("b_ts")).alias("gap_b"),
        (F.col("f_ts") - F.col("t")).alias("gap_f"),
    )
    nearest_b = F.col("gap_b").isNotNull() & (
        F.col("gap_f").isNull() | (F.col("gap_b") <= F.col("gap_f"))
    )
    nearest_f = F.col("gap_f").isNotNull() & (
        F.col("gap_b").isNull() | (F.col("gap_f") < F.col("gap_b"))
    )
    davg2 = lambda c: F.round(
        (F.sum(F.col(c).cast("decimal(18,2)")) / F.count(F.col(c))).cast("double"), 2
    )
    back = p.agg(
        F.lit("backward").alias("direction"),
        F.count("gap_b").alias("n_matched"),
        davg2("gap_b").alias("avg_gap_us"),
        F.sum(nearest_b.cast("bigint")).alias("n_nearest_wins"),
    ).select("direction", "n_matched", "avg_gap_us", "n_nearest_wins")
    fwd = p.agg(
        F.lit("forward").alias("direction"),
        F.count("gap_f").alias("n_matched"),
        davg2("gap_f").alias("avg_gap_us"),
        F.sum(nearest_f.cast("bigint")).alias("n_nearest_wins"),
    ).select("direction", "n_matched", "avg_gap_us", "n_nearest_wins")
    return back.unionByName(fwd).orderBy("direction")


ORACLES["asof_direction_matrix"] = """
WITH base AS (
  SELECT user_id, epoch_us(ts) AS t,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS k
  FROM events WHERE event_type IN ('purchase', 'click')
),
marked AS (
  SELECT *,
         last_value(CASE WHEN k = 0 THEN t END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t ASC, k ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_ts,
         last_value(CASE WHEN k = 0 THEN t END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t DESC, k ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_ts
  FROM base
),
p AS (
  SELECT t - b_ts AS gap_b, f_ts - t AS gap_f FROM marked WHERE k = 1
)
SELECT direction, n_matched, avg_gap_us, n_nearest_wins FROM (
  SELECT 'backward' AS direction, COUNT(gap_b) AS n_matched,
         ROUND(CAST(SUM(CAST(gap_b AS DECIMAL(18,2))) / COUNT(gap_b) AS DOUBLE), 2) AS avg_gap_us,
         CAST(SUM(CASE WHEN gap_b IS NOT NULL AND (gap_f IS NULL OR gap_b <= gap_f)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_nearest_wins
  FROM p
  UNION ALL
  SELECT 'forward', COUNT(gap_f),
         ROUND(CAST(SUM(CAST(gap_f AS DECIMAL(18,2))) / COUNT(gap_f) AS DOUBLE), 2),
         CAST(SUM(CASE WHEN gap_f IS NOT NULL AND (gap_b IS NULL OR gap_f < gap_b)
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM p
)
ORDER BY direction
"""


def timeseries_feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T58 — forecasting feature engineering: the per-(user, hour)
    activity series widened into a supervised-learning frame — k lag
    features, a trailing 3-bucket mean, and the delta-vs-lag1 target
    sculpted the way a demand-forecast pipeline feeds gradient
    boosting. All keyed windows (partitioned by user — the series
    axis), built on the hourly aggregate so the window input is
    bucket-sized, not event-sized: the fact-scale work is one
    group-agg, the feature windows run over ~series-length rows per
    key. Lags are exact decimal sums; NULLs where history is short
    (the model's mask column, not imputed here)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.unix_micros(F.date_trunc("hour", "ts")).alias("h_us")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v")
    )
    w = W.partitionBy("user_id").orderBy("h_us")
    w3 = w.rowsBetween(-2, 0)
    return hourly.select(
        "user_id",
        "h_us",
        F.round("v", 6).alias("v"),
        F.round(F.lag("v", 1).over(w), 6).alias("lag1"),
        F.round(F.lag("v", 2).over(w), 6).alias("lag2"),
        F.round(F.lag("v", 3).over(w), 6).alias("lag3"),
        F.round(F.avg("v").over(w3), 6).alias("rolling3_mean"),
        F.round(F.col("v") - F.lag("v", 1).over(w), 6).alias("target_delta"),
    )


ORACLES["timeseries_feature_frame"] = """
WITH hourly AS (
  SELECT user_id, epoch_us(date_trunc('hour', ts)) AS h_us,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
)
SELECT user_id, h_us, ROUND(v, 6) AS v,
       ROUND(lag(v, 1) OVER w, 6) AS lag1,
       ROUND(lag(v, 2) OVER w, 6) AS lag2,
       ROUND(lag(v, 3) OVER w, 6) AS lag3,
       ROUND(AVG(v) OVER (PARTITION BY user_id ORDER BY h_us
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS rolling3_mean,
       ROUND(v - lag(v, 1) OVER w, 6) AS target_delta
FROM hourly
WINDOW w AS (PARTITION BY user_id ORDER BY h_us)
"""


TOP_PATHS_K = 20


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A75 — clickstream path analysis: the top-20 session-opening
    event sequences (first three event types per session, '>'
    -joined), with counts and share of all sessions — the "what do
    users do first" product-analytics report. Each session's ordered
    prefix is assembled INSIDE its group via array_sort of
    (ts, event_id, type) structs collected per session — bounded by
    session length, never a global window; array_sort on the struct
    gives the (ts, event_id) total order without a sort shuffle. The
    path table then aggregates and the top-20 ride ranked_topk
    (TakeOrderedAndProject — no single-partition window). Share =
    exact count / exact session total, 6dp."""
    ev = load_table(spark, sf_dir, "events")
    sessions = (
        sessionize(ev)
        .groupBy("user_id", "session_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("us"),
                        F.col("event_id").alias("eid"),
                        F.col("event_type").alias("et"),
                    )
                )
            ).alias("seq")
        )
        .select(
            F.concat_ws(
                ">", F.slice(F.col("seq.et"), 1, 3)
            ).alias("path")
        )
    )
    totals = sessions.agg(F.count("*").cast("double").alias("n_sessions"))
    paths = (
        sessions.groupBy("path")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(totals))
        .withColumn("share", F.round(F.col("n") / F.col("n_sessions"), 6))
        .drop("n_sessions")
    )
    return ranked_topk(paths, [F.desc("n"), F.asc("path")], TOP_PATHS_K).select(
        "rank", "path", "n", "share"
    )


ORACLES["events_top_paths"] = f"""
WITH seq AS (
  SELECT user_id, event_id, event_type, ts,
         lag(epoch_us(ts)) OVER w AS prev_us, epoch_us(ts) AS ts_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sess AS (
  SELECT user_id, event_id, event_type, ts_us,
         SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us > {SESSION_GAP_MIN}*60*1000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM seq
),
paths AS (
  SELECT user_id, session_id,
         array_to_string((list(event_type ORDER BY ts_us ASC, event_id ASC))[1:3], '>') AS path
  FROM sess GROUP BY user_id, session_id
),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_sessions FROM paths),
cnt AS (
  SELECT path, COUNT(*) AS n, ROUND(COUNT(*) / MAX(t.n_sessions), 6) AS share
  FROM paths CROSS JOIN tot t GROUP BY path
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, path ASC) AS BIGINT) AS rank,
       path, n, share
FROM cnt
ORDER BY n DESC, path ASC
LIMIT {TOP_PATHS_K}
"""


def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A76 — seasonal baseline profile: per (event_type ×
    hour-of-day) cell, event count and exact mean value, plus the
    seasonal index (cell mean / that type's overall mean) — the
    baseline table a monitoring system compares live traffic
    against (the same-hour-yesterday discipline). Two aggregations
    over one scan joined on event_type (the per-type frame is
    #types rows → broadcast); all means are exact-decimal
    (columns.py dsum), index rounded 6dp. Hours are UTC (session
    timezone is pinned UTC; the oracle reads the same naive
    timestamps)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour_of_day")
    ).agg(
        F.count("*").alias("n"),
        dsum("value", 6).alias("sum_v"),
    )
    overall = ev.groupBy("event_type").agg(
        (dsum("value", 6) / F.count("*")).alias("overall_avg")
    )
    return cells.join(F.broadcast(overall), "event_type").select(
        "event_type",
        "hour_of_day",
        "n",
        F.round(F.col("sum_v") / F.col("n"), 6).alias("avg_value"),
        F.round((F.col("sum_v") / F.col("n")) / F.col("overall_avg"), 6).alias(
            "seasonal_idx"
        ),
    )


ORACLES["events_seasonal_baseline"] = """
WITH cells AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hour_of_day,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
  FROM events GROUP BY 1, 2
),
overall AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS overall_avg
  FROM events GROUP BY 1
)
SELECT c.event_type, c.hour_of_day, c.n,
       ROUND(c.sum_v / c.n, 6) AS avg_value,
       ROUND((c.sum_v / c.n) / o.overall_avg, 6) AS seasonal_idx
FROM cells c JOIN overall o ON c.event_type = o.event_type
"""


def events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A78 — funnel time-to-convert distribution: for every user, the
    lag from first signup to first subsequent purchase; distribution
    stats per ISO weekday of the signup (n converted, exact-decimal
    mean hours, exact quartiles, p90). The question A25/A66 funnels
    beg next: not "did they convert" but "how fast". Two keyed
    aggregations on user_id and one broadcast-free join on the same
    key; the weekday grouping is calendar-bounded (7 rows). Exact
    `percentile` interpolation rounded 6dp both engines (the A71
    cut discipline); hours = µs / 3.6e9 — one division of identical
    exact integers."""
    ev = load_table(spark, sf_dir, "events")
    signup = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("t_signup")
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("t_p"))
        .join(signup, "user_id")
        .filter(F.col("t_p") >= F.col("t_signup"))
        .groupBy("user_id", "t_signup")
        .agg(F.min("t_p").alias("t_purchase"))
        .select(
            "user_id",
            (F.weekday(F.timestamp_micros("t_signup")) + 1).alias("signup_isodow"),
            ((F.col("t_purchase") - F.col("t_signup")) / 3.6e9).alias("lag_hours"),
        )
    )
    return conv.groupBy("signup_isodow").agg(
        F.count("*").alias("n_converted"),
        F.round(dsum("lag_hours", 6) / F.count("*"), 6).alias("mean_hours"),
        F.round(F.expr("percentile(lag_hours, 0.25)"), 6).alias("p25_hours"),
        F.round(F.expr("percentile(lag_hours, 0.5)"), 6).alias("p50_hours"),
        F.round(F.expr("percentile(lag_hours, 0.75)"), 6).alias("p75_hours"),
        F.round(F.expr("percentile(lag_hours, 0.9)"), 6).alias("p90_hours"),
    )


ORACLES["events_conversion_lag"] = """
WITH signup AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t_signup
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
  SELECT e.user_id, s.t_signup, MIN(epoch_us(e.ts)) AS t_purchase
  FROM events e JOIN signup s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.t_signup
  GROUP BY e.user_id, s.t_signup
),
lags AS (
  SELECT user_id,
         CAST(isodow(make_timestamp(t_signup)) AS INT) AS signup_isodow,
         (t_purchase - t_signup) / 3.6e9 AS lag_hours
  FROM conv
)
SELECT signup_isodow, COUNT(*) AS n_converted,
       ROUND(CAST(SUM(CAST(lag_hours AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_hours,
       ROUND(quantile_cont(lag_hours, 0.25), 6) AS p25_hours,
       ROUND(quantile_cont(lag_hours, 0.5), 6) AS p50_hours,
       ROUND(quantile_cont(lag_hours, 0.75), 6) AS p75_hours,
       ROUND(quantile_cont(lag_hours, 0.9), 6) AS p90_hours
FROM lags GROUP BY signup_isodow
"""


def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A81 — sequence-pattern session classification (the
    MATCH_RECOGNIZE use case, composed from primitives Spark has:
    per-session ordered path string + regex ladder). Sessions are
    classified by the FIRST matching rule: `converting` (a signup
    later followed by a purchase), `error_terminated` (session ends
    on an error), `browsing` (nothing but view/click), else `other`;
    report = session count + mean length per class. The path string
    is assembled in-group (array_sort of collected structs — bounded
    by session length, the A75 shape); regex evaluation is one
    scan-side projection over the session-sized frame. Both engines
    run the identical patterns (Java regex ∩ RE2 common subset)."""
    ev = load_table(spark, sf_dir, "events")
    sessions = (
        sessionize(ev)
        .groupBy("user_id", "session_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("us"),
                        F.col("event_id").alias("eid"),
                        F.col("event_type").alias("et"),
                    )
                )
            ).alias("seq")
        )
        .select(
            F.concat_ws(">", F.col("seq.et")).alias("path"),
            F.size("seq").alias("n_events"),
        )
    )
    cls = (
        F.when(F.col("path").rlike("signup.*purchase"), "converting")
        .when(F.col("path").rlike("(^|>)error$"), "error_terminated")
        .when(F.col("path").rlike("^((view|click)(>|$))+$"), "browsing")
        .otherwise("other")
    )
    return sessions.groupBy(cls.alias("session_class")).agg(
        F.count("*").alias("n_sessions"),
        F.round(F.sum("n_events") / F.count("*"), 6).alias("mean_events"),
    )


ORACLES["events_sequence_match"] = f"""
WITH seq AS (
  SELECT user_id, event_id, event_type, ts,
         lag(epoch_us(ts)) OVER w AS prev_us, epoch_us(ts) AS ts_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sess AS (
  SELECT user_id, event_id, event_type, ts_us,
         SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us > {SESSION_GAP_MIN}*60*1000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM seq
),
paths AS (
  SELECT array_to_string(list(event_type ORDER BY ts_us ASC, event_id ASC), '>') AS path,
         COUNT(*) AS n_events
  FROM sess GROUP BY user_id, session_id
)
SELECT CASE WHEN regexp_matches(path, 'signup.*purchase') THEN 'converting'
            WHEN regexp_matches(path, '(^|>)error$') THEN 'error_terminated'
            WHEN regexp_matches(path, '^((view|click)(>|$))+$') THEN 'browsing'
            ELSE 'other' END AS session_class,
       COUNT(*) AS n_sessions,
       ROUND(SUM(n_events) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_events
FROM paths
GROUP BY 1
"""


STICKINESS_WINDOW = 7


def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A84 — DAU/WAU stickiness: per day, distinct active users that
    day, distinct users over the trailing 7 days, and their ratio —
    the engagement metric every product dashboard leads with.
    Trailing COUNT(DISTINCT) can't ride a window frame (A57's
    lesson), so each (user, day) activity pair replicates to the 7
    window-end days it can serve (constant 7× fan-out of the
    user·day DISTINCT frame, not the event stream) and ONE hash agg
    distinct-counts per window end; DAU joins on the same day key.
    Days outside the observed range are dropped (their windows are
    right-censored); ratio = exact counts in double, 6dp."""
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct().persist()
    dau = activity.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    replicated = activity.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), STICKINESS_WINDOW - 1),
            )
        ).alias("window_end"),
    )
    wau = replicated.groupBy("window_end").agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        dau.join(wau, dau.day == wau.window_end)
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


ORACLES["events_dau_wau_stickiness"] = f"""
WITH activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM activity GROUP BY 1),
repl AS (
  SELECT user_id, day + CAST(i AS INTEGER) AS window_end
  FROM activity, unnest(generate_series(0, {STICKINESS_WINDOW - 1})) AS t(i)
),
wau AS (SELECT window_end, COUNT(DISTINCT user_id) AS wau FROM repl GROUP BY 1)
SELECT CAST(d.day AS VARCHAR) AS day, d.dau, w.wau,
       ROUND(d.dau / CAST(w.wau AS DOUBLE), 6) AS stickiness
FROM dau d JOIN wau w ON d.day = w.window_end
"""


CUSUM_K_SD = 0.5  # slack, in per-type hourly stddevs
CUSUM_H_SD = 4.0  # alarm threshold, in per-type hourly stddevs


def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A88 — CUSUM change-point / drift detection per event type: the
    classic sequential monitor C_t = max(0, C_{t-1} + (x_t − μ0 − k))
    over the hourly mean-value series, alarming when C_t clears h —
    the upward-drift detector an observability stack runs beside
    A43's pointwise z-scores (CUSUM catches small sustained shifts a
    per-point screen never sees). The recursion is NOT iterated:
    C_t = S_t − min(0, min_{j≤t} S_j) for prefix sums S of the slack-
    adjusted deviations, so the whole detector is two ordered window
    functions (the A72 prefix-sum discipline) over exact DECIMAL(18,6)
    values — engine-exact end to end, hence fully value-oracled.
    Scale: the window partitions by event_type over the HOURLY rollup,
    whose length is bounded by the monitored time range, not the fact
    count — the rollup itself is one partial-agg shuffle. μ0/k/h are
    derived per type from exact moments and cut to 6dp before reuse
    (the A71 discipline)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg((dsum("value", 6) / F.count("*")).alias("xm"))
        .select(
            "event_type",
            F.unix_micros("hr").alias("hr_us"),
            F.round("xm", 6).cast("decimal(18,6)").alias("x"),
        )
    )
    return cusum_report(cusum_hourly(hourly))


def cusum_params(hourly: DataFrame) -> DataFrame:
    """Per-type CUSUM parameters (μ0, slack k, threshold h as
    DECIMAL(18,6)) from exact moments of an (event_type, hr_us, x)
    hourly series — shared by the batch detector (A88) and the
    streaming monitor's training phase (ST21)."""
    st = hourly.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    mu = F.round(F.col("sx").cast("double") / F.col("n_hours"), 6)
    var = F.greatest(
        F.col("sxx").cast("double") / F.col("n_hours") - mu * mu, F.lit(0.0)
    )
    return st.select(
        "event_type",
        "n_hours",
        mu.cast("decimal(18,6)").alias("mu"),
        F.round(F.lit(CUSUM_K_SD) * F.sqrt(var), 6).cast("decimal(18,6)").alias("k"),
        F.round(F.lit(CUSUM_H_SD) * F.sqrt(var), 6).cast("decimal(18,6)").alias("h"),
    )


def cusum_hourly(hourly: DataFrame) -> DataFrame:
    """Closed-form CUSUM over an (event_type, hr_us, x DECIMAL(18,6))
    series: per-type μ0/k/h from exact moments, then
    C_t = S_t − min(0, min_{j≤t} S_j) — provably equal to the
    textbook recursion C_t = max(0, C_{t-1} + x_t − μ0 − k)
    (unit-pinned against a literal recursion in tests)."""
    params = cusum_params(hourly)
    w = (
        W.partitionBy("event_type")
        .orderBy("hr_us")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    dev = hourly.join(F.broadcast(params), "event_type").withColumn(
        "s", F.sum(F.col("x") - F.col("mu") - F.col("k")).over(w)
    )
    return dev.withColumn(
        "c",
        F.col("s")
        - F.least(F.min("s").over(w), F.lit(0).cast("decimal(18,6)")),
    )


def cusum_report(cusum: DataFrame) -> DataFrame:
    return (
        cusum.groupBy("event_type")
        .agg(
            F.first("n_hours").alias("n_hours"),
            # decimal->double conversion is engine-divergent in the
            # last ulp (one engine divides the unscaled int by 10^6,
            # the other multiplies by 1e-6), so every decimal output
            # re-rounds at 6dp AFTER the cast on both sides
            F.round(F.first("mu").cast("double"), 6).alias("target_mean"),
            F.round(F.first("k").cast("double"), 6).alias("slack_k"),
            F.round(F.first("h").cast("double"), 6).alias("threshold_h"),
            F.round(F.max("c").cast("double"), 6).alias("max_cusum"),
            F.count(F.when(F.col("c") > F.col("h"), 1)).alias("n_alarm_hours"),
            F.min(F.when(F.col("c") > F.col("h"), F.col("hr_us"))).alias(
                "first_alarm_us"
            ),
        )
    )


ORACLES["events_cusum_changepoint"] = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hr_us,
         CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
              AS DECIMAL(18,6)) AS x
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, COUNT(*) AS n_hours, SUM(x) AS sx, SUM(x * x) AS sxx
  FROM hourly GROUP BY 1
),
params AS (
  SELECT event_type, n_hours,
         CAST(ROUND(CAST(sx AS DOUBLE) / n_hours, 6) AS DECIMAL(18,6)) AS mu,
         CAST(ROUND({CUSUM_K_SD} * sqrt(GREATEST(CAST(sxx AS DOUBLE) / n_hours
              - ROUND(CAST(sx AS DOUBLE) / n_hours, 6) * ROUND(CAST(sx AS DOUBLE) / n_hours, 6), 0)), 6)
              AS DECIMAL(18,6)) AS k,
         CAST(ROUND({CUSUM_H_SD} * sqrt(GREATEST(CAST(sxx AS DOUBLE) / n_hours
              - ROUND(CAST(sx AS DOUBLE) / n_hours, 6) * ROUND(CAST(sx AS DOUBLE) / n_hours, 6), 0)), 6)
              AS DECIMAL(18,6)) AS h,
  FROM st
),
dev AS (
  SELECT h.event_type, h.hr_us, p.n_hours, p.mu, p.k, p.h AS th,
         SUM(h.x - p.mu - p.k) OVER (PARTITION BY h.event_type ORDER BY h.hr_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM hourly h JOIN params p ON p.event_type = h.event_type
),
cus AS (
  SELECT *, s - LEAST(MIN(s) OVER (PARTITION BY event_type ORDER BY hr_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             CAST(0 AS DECIMAL(18,6))) AS c
  FROM dev
)
SELECT event_type,
       CAST(MIN(n_hours) AS BIGINT) AS n_hours,
       ROUND(CAST(MIN(mu) AS DOUBLE), 6) AS target_mean,
       ROUND(CAST(MIN(k) AS DOUBLE), 6) AS slack_k,
       ROUND(CAST(MIN(th) AS DOUBLE), 6) AS threshold_h,
       ROUND(CAST(MAX(c) AS DOUBLE), 6) AS max_cusum,
       COUNT(CASE WHEN c > th THEN 1 END) AS n_alarm_hours,
       MIN(CASE WHEN c > th THEN hr_us END) AS first_alarm_us
FROM cus GROUP BY event_type
"""


BACKTEST_H = 24  # forecast horizon + seasonal lag, hours


def events_timeseries_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T58b — forecast backtesting: per event type, hold out the
    LAST 24 hours of the hourly value series, forecast each held-out
    hour with the seasonal-naive model (x̂(t) = x(t−24h) — the
    baseline every real forecaster must beat), and report MAE plus
    MASE (MAE scaled by the in-sample seasonal-naive error —
    Hyndman & Koehler 2006 — so the score is unit-free and
    comparable across series; MASE < 1 beats the naive in-sample).
    The evaluation half of the forecasting story whose feature half
    is T58 `timeseries_feature_frame`.

    Exactness: hourly x(t) are exact-DECIMAL sums (dsum); every
    |error| is a DECIMAL subtraction + ABS (exact); the two means
    and their ratio are one engine-identical double chain at the
    edge. Hours missing from the series simply produce no (t, t−24)
    pair — the lag is an epoch-µs equi-join, not a row-offset
    window, so gaps exclude themselves identically on both engines
    (no imputation). Split boundary: test = hours strictly above
    max(hour) − 24h, computed per type from the same rollup.

    Scale: one scan → hourly rollup (types × hours rows) → a
    self-join on the 24h-shifted hour key — all keyed by (type,
    hour), nothing wider than the rollup ever shuffles.
    Ref: reference has no forecasting surface; complements A76's
    seasonal baseline profile."""
    ev = load_table(spark, sf_dir, "events")
    # memoized persist (cachereg): the types×hours rollup feeds three
    # consumers (mx / prev / paired); one released-on-hook entry per
    # (app, sf_dir) instead of a new pinned frame per invocation
    # (r7 advisor)
    hourly = cachereg.memo(
        spark,
        "backtest_hourly",
        sf_dir,
        lambda: ev.groupBy(
            "event_type",
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("h_us"),
        ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("x")),
    )
    lag_us = BACKTEST_H * 3600 * 1_000_000
    mx = hourly.groupBy("event_type").agg(F.max("h_us").alias("mx"))
    prev = hourly.select(
        "event_type",
        (F.col("h_us") + lag_us).alias("h_us"),
        F.col("x").alias("x_prev"),
    )
    paired = (
        hourly.join(prev, ["event_type", "h_us"])
        .join(mx, "event_type")
        .select(
            "event_type",
            (F.col("h_us") > F.col("mx") - lag_us).alias("is_test"),
            F.abs(F.col("x") - F.col("x_prev")).alias("ae"),
        )
    )
    g = paired.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_test"), 1).otherwise(0)).cast("bigint").alias("n_test"),
        F.sum(F.when(~F.col("is_test"), 1).otherwise(0)).cast("bigint").alias("n_train"),
        F.sum(F.when(F.col("is_test"), F.col("ae"))).alias("se_test"),
        F.sum(F.when(~F.col("is_test"), F.col("ae"))).alias("se_train"),
    )
    mae = F.col("se_test").cast("double") / F.col("n_test")
    naive = F.col("se_train").cast("double") / F.col("n_train")
    defined = (F.col("n_test") > 0) & (F.col("n_train") > 0) & (F.col("se_train") > 0)
    return g.select(
        "event_type",
        "n_test",
        "n_train",
        F.when(F.col("n_test") > 0, F.round(mae, 6)).alias("mae"),
        F.when(F.col("n_train") > 0, F.round(naive, 6)).alias("naive_mae"),
        F.when(defined, F.round(mae / naive, 6)).alias("mase"),
    ).orderBy("event_type")


ORACLES["events_timeseries_backtest"] = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS h_us,
         SUM(CAST(value AS DECIMAL(18,6))) AS x
  FROM events GROUP BY 1, 2
),
mx AS (SELECT event_type, MAX(h_us) AS mx FROM hourly GROUP BY 1),
paired AS (
  SELECT h.event_type,
         h.h_us > m.mx - {BACKTEST_H * 3600 * 1_000_000} AS is_test,
         ABS(h.x - p.x) AS ae
  FROM hourly h
  JOIN hourly p ON p.event_type = h.event_type
       AND p.h_us = h.h_us - {BACKTEST_H * 3600 * 1_000_000}
  JOIN mx m ON m.event_type = h.event_type
),
g AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN NOT is_test THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         SUM(CASE WHEN is_test THEN ae END) AS se_test,
         SUM(CASE WHEN NOT is_test THEN ae END) AS se_train
  FROM paired GROUP BY 1
)
SELECT event_type, n_test, n_train,
       CASE WHEN n_test > 0 THEN ROUND(CAST(se_test AS DOUBLE) / n_test, 6) END AS mae,
       CASE WHEN n_train > 0 THEN ROUND(CAST(se_train AS DOUBLE) / n_train, 6) END AS naive_mae,
       CASE WHEN n_test > 0 AND n_train > 0 AND se_train > 0
            THEN ROUND((CAST(se_test AS DOUBLE) / n_test)
                 / (CAST(se_train AS DOUBLE) / n_train), 6) END AS mase
FROM g ORDER BY event_type
"""


def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A103 — cohort LTV curve: the revenue twin of
    events_retention_cohorts — per first-seen-week cohort, purchase
    revenue attributed to each week-of-age (0..3) and the cumulative
    LTV per cohort member, answering "how much is a week-N user
    worth" next to retention's "do they come back". Same two-
    aggregation shape over one scan (cohort assignment joins back on
    user_id, the key both sides aggregated on); revenue sums are
    exact DECIMAL (the dsum discipline) pivoted by age via
    conditional aggregation — no pivot shuffle, no per-age scans;
    cohorts without purchases keep explicit 0 rows (left join +
    coalesce on BOTH engines).
    Ref: reference consumption layer (README §2.3) asks exactly this
    class of question of the star; machinery shared with A84/A71."""
    ev = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    firsts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    sizes = firsts.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    purch = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select("user_id", week.alias("pweek"), "value")
    rev = (
        purch.join(firsts, "user_id")
        .groupBy("cohort_week")
        .agg(
            *[
                F.sum(
                    F.when(
                        F.datediff("pweek", "cohort_week") == 7 * k,
                        F.col("value").cast("decimal(18,6)"),
                    )
                ).alias(f"r{k}")
                for k in range(4)
            ]
        )
    )
    z = F.lit(0).cast("decimal(18,6)")
    rs = [F.coalesce(F.col(f"r{k}"), z) for k in range(4)]
    total = rs[0] + rs[1] + rs[2] + rs[3]
    return (
        sizes.join(rev, "cohort_week", "left")
        .select(
            F.unix_micros("cohort_week").alias("cohort_week_us"),
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            *[
                F.round(rs[k].cast("double"), 6).alias(f"rev_w{k}")
                for k in range(4)
            ],
            F.round(total.cast("double") / F.col("cohort_size"), 6).alias(
                "ltv_per_user"
            ),
        )
        .orderBy("cohort_week_us")
    )


ORACLES["events_cohort_ltv"] = """
WITH firsts AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week FROM events GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM firsts GROUP BY 1
),
rev AS (
  SELECT f.cohort_week,
         SUM(CASE WHEN datediff('day', f.cohort_week, date_trunc('week', e.ts)) = 0
             THEN CAST(e.value AS DECIMAL(18,6)) END) AS r0,
         SUM(CASE WHEN datediff('day', f.cohort_week, date_trunc('week', e.ts)) = 7
             THEN CAST(e.value AS DECIMAL(18,6)) END) AS r1,
         SUM(CASE WHEN datediff('day', f.cohort_week, date_trunc('week', e.ts)) = 14
             THEN CAST(e.value AS DECIMAL(18,6)) END) AS r2,
         SUM(CASE WHEN datediff('day', f.cohort_week, date_trunc('week', e.ts)) = 21
             THEN CAST(e.value AS DECIMAL(18,6)) END) AS r3
  FROM events e JOIN firsts f USING (user_id)
  WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
  GROUP BY 1
)
SELECT epoch_us(s.cohort_week) AS cohort_week_us,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       ROUND(CAST(COALESCE(r.r0, 0) AS DOUBLE), 6) AS rev_w0,
       ROUND(CAST(COALESCE(r.r1, 0) AS DOUBLE), 6) AS rev_w1,
       ROUND(CAST(COALESCE(r.r2, 0) AS DOUBLE), 6) AS rev_w2,
       ROUND(CAST(COALESCE(r.r3, 0) AS DOUBLE), 6) AS rev_w3,
       ROUND(CAST(COALESCE(r.r0, 0) + COALESCE(r.r1, 0) + COALESCE(r.r2, 0)
             + COALESCE(r.r3, 0) AS DOUBLE) / s.cohort_size, 6) AS ltv_per_user
FROM sizes s LEFT JOIN rev r ON r.cohort_week = s.cohort_week
ORDER BY cohort_week_us
"""


ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day lookback, in µs
ATTR_SCALE = 10**6  # linear-credit unit: one conversion = 1e6


def events_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A102 — multi-touch attribution: for every purchase, the
    non-purchase events ("touches") by the same user in the
    ATTR_WINDOW lookback, credited to their channel (event_type)
    under the three standard models at once — first-touch (1
    conversion to the earliest touch), last-touch (1 to the latest),
    and linear (each touch channel gets its share of ATTR_SCALE:
    (n_channel_touches·SCALE) div k — ONE floor per (purchase,
    channel), so per-purchase credit loss is < #channels units and
    BOTH engines floor the same integers; the float 1/k would be
    neither exact nor order-safe). Purchases with no in-window touch
    report under channel '(unattributed)' with full credit in all
    three models. Window arithmetic in epoch-µs integers (portable
    across engines and DST-free). Tie-breaks: equal-timestamp touches
    order by (ts, event_type, event_id) — deterministic everywhere.

    Scale: the purchase×touch join is user_id-keyed with a time-band
    predicate — fan-out bounded by per-user activity in a 7-day
    window, never all-pairs; beyond that, bucketize time like A32's
    interval join. The per-purchase window partitions by purchase id
    (millions of tiny partitions — the healthy direction).
    Ref: reference has no attribution surface; standard first/last/
    linear credit models over the A23-A26 event machinery."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("uid"),
        F.unix_micros("ts").alias("pt"),
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.unix_micros("ts").alias("tt"),
        F.col("event_id").alias("tid"),
    )
    joined = purchases.join(touches, purchases.uid == touches.user_id).filter(
        (F.col("tt") < F.col("pt")) & (F.col("tt") >= F.col("pt") - ATTR_WINDOW_US)
    )
    w = W.partitionBy("pid").orderBy(F.asc("tt"), F.asc("channel"), F.asc("tid"))
    ranked = joined.select(
        "pid",
        "channel",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("pid")).alias("k"),
    )
    per_pc = ranked.groupBy("pid", "channel").agg(
        F.max((F.col("rn") == 1).cast("bigint")).alias("is_first"),
        F.max((F.col("rn") == F.col("k")).cast("bigint")).alias("is_last"),
        F.count("*").alias("nc"),
        F.min("k").alias("k"),
    )
    attributed = per_pc.groupBy("channel").agg(
        F.sum("is_first").cast("bigint").alias("first_touch"),
        F.sum("is_last").cast("bigint").alias("last_touch"),
        F.sum(F.expr(f"(nc * CAST({ATTR_SCALE} AS BIGINT)) div k"))
        .cast("bigint")
        .alias("linear_scaled"),
    )
    orphans = (
        purchases.join(
            joined.select("pid").distinct(), "pid", "left_anti"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("(unattributed)").alias("channel"),
            F.col("n").cast("bigint").alias("first_touch"),
            F.col("n").cast("bigint").alias("last_touch"),
            (F.col("n") * ATTR_SCALE).cast("bigint").alias("linear_scaled"),
        )
    )
    return (
        attributed.unionByName(orphans)
        .select(
            "channel",
            "first_touch",
            "last_touch",
            "linear_scaled",
            F.round(F.col("linear_scaled") / F.lit(float(ATTR_SCALE)), 6).alias(
                "linear_credit"
            ),
        )
        .orderBy("channel")
    )


ORACLES["events_attribution_models"] = f"""
WITH purchases AS (
  SELECT event_id AS pid, user_id AS uid, epoch_us(ts) AS pt
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, event_type AS channel, epoch_us(ts) AS tt, event_id AS tid
  FROM events WHERE event_type <> 'purchase'
),
joined AS (
  SELECT p.pid, t.channel, t.tt, t.tid
  FROM purchases p JOIN touches t ON t.user_id = p.uid
  WHERE t.tt < p.pt AND t.tt >= p.pt - {ATTR_WINDOW_US}
),
ranked AS (
  SELECT pid, channel,
         row_number() OVER (PARTITION BY pid ORDER BY tt, channel, tid) AS rn,
         COUNT(*) OVER (PARTITION BY pid) AS k
  FROM joined
),
per_pc AS (
  SELECT pid, channel,
         MAX(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS is_first,
         MAX(CASE WHEN rn = k THEN 1 ELSE 0 END) AS is_last,
         COUNT(*) AS nc, MIN(k) AS k
  FROM ranked GROUP BY 1, 2
),
attributed AS (
  SELECT channel,
         CAST(SUM(is_first) AS BIGINT) AS first_touch,
         CAST(SUM(is_last) AS BIGINT) AS last_touch,
         CAST(SUM((nc * {ATTR_SCALE}) // k) AS BIGINT) AS linear_scaled
  FROM per_pc GROUP BY 1
),
orphans AS (
  SELECT '(unattributed)' AS channel,
         CAST(COUNT(*) AS BIGINT) AS first_touch,
         CAST(COUNT(*) AS BIGINT) AS last_touch,
         CAST(COUNT(*) * {ATTR_SCALE} AS BIGINT) AS linear_scaled
  FROM purchases p
  WHERE NOT EXISTS (SELECT 1 FROM joined j WHERE j.pid = p.pid)
)
SELECT channel, first_touch, last_touch, linear_scaled,
       ROUND(linear_scaled / {float(ATTR_SCALE)!r}, 6) AS linear_credit
FROM (SELECT * FROM attributed UNION ALL SELECT * FROM orphans)
ORDER BY channel
"""


ESM_SCALE = 10**6  # 6dp smoothing-state unit (the KML_SCALE family)
ESM_ALPHA_NUM, ESM_ALPHA_DEN = 2, 10  # α = 0.2 as an exact ratio


def _esm_idiv(v, d: int):
    """Exact FLOOR division (toward −∞) for any integer v with
    |v| < 2^53 by positive integer d, inside a HOF lambda where SQL
    `div` is unreachable (lambda vars can't cross into F.expr).
    F.pmod's remainder is nonnegative even for negative v, so
    (v − pmod(v, d)) is the exact floor multiple of d, and an IEEE
    division of two exactly-representable doubles whose true quotient
    is a representable integer is exact. This floor-for-negatives
    behavior is load-bearing: the A115 Holt-Winters fold feeds
    negative level/trend/seasonal deltas through it, matching the
    pmod-floor form the A115/A107 oracles spell — do not "simplify"
    to truncating division."""
    return ((v - F.pmod(v, F.lit(d))) / F.lit(d)).cast("bigint")


def events_exp_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A106 — exponential-smoothing ladder (r8): simple exponential
    smoothing over each type's hourly event counts with α = 0.2 run
    as an EXACT integer recursion, s_t = (2·x_t·SCALE + 8·s_{t−1})
    div 10 — the ladder discipline (T44b/T18b) applied to the one
    time-series primitive SQL cannot express inline (a sequential
    recurrence). Spark computes it as an ordered-array fold per type
    (aggregate() over the collect_list of hourly counts — the array
    is HOURS-sized, bounded by the time span, never by row count);
    the DuckDB oracle replays the identical recursion with WITH
    RECURSIVE, so every reported state is value-verified. Ledger per
    type: hour count, the smoothed state at the ¼, ½ and final
    checkpoints (prefix folds — both engines index max(n div k, 1)),
    and the cumulative one-step absolute forecast error in count
    units (sae = Σ |x_t·SCALE − s_{t−1}| div SCALE, the SES
    evaluation loop). All quantities nonnegative, so Spark's
    truncating arithmetic and DuckDB's flooring `//` agree.

    Scale: one hourly pre-aggregation (shuffle on (hour, type)), one
    type-keyed collect into hours-sized arrays, one fold per type —
    the fold state is 2 BIGINTs regardless of history length.
    Headroom: s ≤ max hourly count × SCALE; the fold argument
    2·x·SCALE + 8·s stays double-exact while counts < ~10^8/hour
    (v < 2^53); past that, drop ESM_SCALE a decade per 100× (the
    PR_SCALE rule) or move the fold state to DECIMAL(38,0).
    Ref: extends A76's seasonal baseline with the recursive-state
    half the reference's pandas pipeline computes via .ewm()."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").cast("bigint").alias("x"))
        .select(F.unix_micros(F.col("w.start")).alias("h"), "event_type", "x")
    )
    arr = hourly.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("h", "x"))), lambda s: s["x"]
        ).alias("xs")
    )

    def ses_fold(xs):
        init = F.struct(
            (F.element_at(xs, 1) * ESM_SCALE).cast("bigint").alias("s"),
            F.lit(0).cast("bigint").alias("sae"),
        )
        return F.aggregate(
            F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
            init,
            lambda acc, x: F.struct(
                _esm_idiv(
                    ESM_ALPHA_NUM * x * ESM_SCALE + (ESM_ALPHA_DEN - ESM_ALPHA_NUM) * acc["s"],
                    ESM_ALPHA_DEN,
                ).alias("s"),
                (acc["sae"] + _esm_idiv(F.abs(x * ESM_SCALE - acc["s"]), ESM_SCALE)).alias(
                    "sae"
                ),
            ),
        )

    def prefix(xs, k: int):
        return F.slice(
            xs, 1, F.greatest(_esm_idiv(F.size(xs).cast("bigint"), k), F.lit(1)).cast("int")
        )

    staged = arr.select(
        "event_type",
        F.size("xs").cast("bigint").alias("n_hours"),
        ses_fold(prefix(F.col("xs"), 4))["s"].alias("s_q1"),
        ses_fold(prefix(F.col("xs"), 2))["s"].alias("s_half"),
        ses_fold(F.col("xs")).alias("full"),
    )
    return staged.select(
        "event_type",
        "n_hours",
        "s_q1",
        "s_half",
        F.col("full.s").alias("s_final"),
        F.col("full.sae").alias("sae_units"),
    )


HOLT_BETA_NUM, HOLT_BETA_DEN = 3, 10  # β = 0.3 as an exact ratio
HOLT_FC_HORIZON = 24  # hours ahead for the linear forecast


def events_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A107 — Holt's linear-trend smoothing (r8): A106's ladder
    generalized to a TWO-state exact integer recursion over per-type
    hourly counts — level s_t = (2·x_t·SCALE + 8·(s+b)) fdiv 10,
    trend b_t = (3·(s_t − s_{t−1}) + 7·b) fdiv 10, with b_1 = 0 —
    plus the h-step linear forecast s + 24·b the flat SES forecast
    cannot express. The trend CAN go negative, which is the whole
    point of this key's arithmetic: Spark `div` and DuckDB `//` BOTH
    truncate toward zero while the recursion is defined with FLOOR
    division, so each engine spells the explicit pmod floor form
    ((v − ((v % d) + d) % d) / d — the ml_kmeans_ladder discipline;
    prototyped cross-engine before trusting: truncation drifted the
    level 3-10 units by hour 680). Spark runs the fold per type over
    the ordered hours array (3-field struct state); the oracle
    replays with WITH RECURSIVE, the s' intermediate named in a
    subquery so the floor macro isn't nested textually. sae is the
    cumulative one-step |error| against the s+b forecast. Headroom:
    same 2^53 bound as A106 (counts < ~10^8/hour), DECIMAL(38,0)
    past it."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").cast("bigint").alias("x"))
        .select(F.unix_micros(F.col("w.start")).alias("h"), "event_type", "x")
    )
    arr = hourly.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("h", "x"))), lambda s: s["x"]
        ).alias("xs")
    )

    def holt_fold(xs):
        init = F.struct(
            (F.element_at(xs, 1) * ESM_SCALE).cast("bigint").alias("s"),
            F.lit(0).cast("bigint").alias("b"),
            F.lit(0).cast("bigint").alias("sae"),
        )

        def step(acc, x):
            fc = acc["s"] + acc["b"]
            snew = _esm_idiv(
                ESM_ALPHA_NUM * x * ESM_SCALE + (ESM_ALPHA_DEN - ESM_ALPHA_NUM) * fc,
                ESM_ALPHA_DEN,
            )
            return F.struct(
                snew.alias("s"),
                _esm_idiv(
                    HOLT_BETA_NUM * (snew - acc["s"])
                    + (HOLT_BETA_DEN - HOLT_BETA_NUM) * acc["b"],
                    HOLT_BETA_DEN,
                ).alias("b"),
                (acc["sae"] + _esm_idiv(F.abs(x * ESM_SCALE - fc), ESM_SCALE)).alias(
                    "sae"
                ),
            )

        return F.aggregate(
            F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))), init, step
        )

    staged = arr.select(
        "event_type",
        F.size("xs").cast("bigint").alias("n_hours"),
        holt_fold(F.col("xs")).alias("full"),
    )
    return staged.select(
        "event_type",
        "n_hours",
        F.col("full.s").alias("s_final"),
        F.col("full.b").alias("b_final"),
        F.col("full.sae").alias("sae_units"),
        (F.col("full.s") + HOLT_FC_HORIZON * F.col("full.b")).alias("forecast_24h"),
    )


def _holt_fdiv_sql(expr: str, d: int) -> str:
    """explicit floor division for the oracle — DuckDB `//` truncates
    toward zero on negatives (measured: -7 // 10 = 0), same as Spark
    `div`, while the recursion is defined with floor."""
    return f"((({expr}) - ((({expr}) % {d}) + {d}) % {d}) // {d})"


ORACLES["events_holt_trend"] = f"""
WITH RECURSIVE h AS MATERIALIZED (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hh, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
o AS MATERIALIZED (
  SELECT event_type, x, row_number() OVER (PARTITION BY event_type ORDER BY hh) AS t,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM h
),
holt AS (
  SELECT event_type, t, x * {ESM_SCALE} AS s, CAST(0 AS BIGINT) AS b,
         CAST(0 AS BIGINT) AS sae, n
  FROM o WHERE t = 1
  UNION ALL
  SELECT event_type, t, snew,
         {_holt_fdiv_sql(f"{HOLT_BETA_NUM} * (snew - sold) + {HOLT_BETA_DEN - HOLT_BETA_NUM} * bold", HOLT_BETA_DEN)},
         sae_new, n
  FROM (
    SELECT o.event_type, o.t, holt.s AS sold, holt.b AS bold, holt.n,
           {_holt_fdiv_sql(f"{ESM_ALPHA_NUM} * o.x * {ESM_SCALE} + {ESM_ALPHA_DEN - ESM_ALPHA_NUM} * (holt.s + holt.b)", ESM_ALPHA_DEN)} AS snew,
           holt.sae + abs(o.x * {ESM_SCALE} - (holt.s + holt.b)) // {ESM_SCALE} AS sae_new
    FROM holt JOIN o ON o.event_type = holt.event_type AND o.t = holt.t + 1
  )
)
SELECT event_type, CAST(n AS BIGINT) AS n_hours, s AS s_final, b AS b_final,
       sae AS sae_units, s + {HOLT_FC_HORIZON} * b AS forecast_24h
FROM holt WHERE t = n
"""


ORACLES["events_exp_smoothing"] = f"""
WITH RECURSIVE h AS MATERIALIZED (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hh, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
-- MATERIALIZED: the recursive step joins o once per iteration (~720);
-- inlined it would rescan events each time (the A94-oracle lesson)
o AS MATERIALIZED (
  SELECT event_type, x, row_number() OVER (PARTITION BY event_type ORDER BY hh) AS t,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM h
),
ses AS (
  SELECT event_type, t, x * {ESM_SCALE} AS s, CAST(0 AS BIGINT) AS sae, n FROM o WHERE t = 1
  UNION ALL
  SELECT o.event_type, o.t,
         ({ESM_ALPHA_NUM} * o.x * {ESM_SCALE} + {ESM_ALPHA_DEN - ESM_ALPHA_NUM} * ses.s) // {ESM_ALPHA_DEN},
         ses.sae + abs(o.x * {ESM_SCALE} - ses.s) // {ESM_SCALE}, ses.n
  FROM ses JOIN o ON o.event_type = ses.event_type AND o.t = ses.t + 1
)
SELECT s1.event_type, CAST(s1.n AS BIGINT) AS n_hours,
       q.s AS s_q1, hm.s AS s_half, s1.s AS s_final, s1.sae AS sae_units
FROM ses s1
JOIN ses q ON q.event_type = s1.event_type AND q.t = GREATEST(s1.n // 4, 1)
JOIN ses hm ON hm.event_type = s1.event_type AND hm.t = GREATEST(s1.n // 2, 1)
WHERE s1.t = s1.n
"""


KM_SCALE = 10**8  # 8dp survival units (the ESM_SCALE family)
KM_HOUR_US = 3_600_000_000  # one hour of epoch-microseconds
KM_CENSOR_US = 12 * KM_HOUR_US  # users active this close to corpus end
# are right-censored: their lifetime is only known to be >= observed
# (sized to the gate corpus: a 30-day window whose users stay active
# nearly end-to-end — hour-grain lifetimes + a 12h horizon give both
# branches real membership at every gate SF)


def _km_idiv(v, d):
    """_esm_idiv with a VARIABLE divisor column (the risk-set size is
    fold state, not a literal): (v − v % d) is an exact multiple of d
    and the IEEE quotient of two exactly-representable doubles whose
    true quotient is a representable integer is exact — valid while
    v < 2^53 (headroom note in events_survival_km)."""
    return ((v - F.pmod(v, d)) / d).cast("bigint")


def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A112 — Kaplan-Meier survival (time-to-churn) per acquisition
    segment: the one classic time-to-event family the analytics core
    still lacked. A user's lifetime is last-minus-first activity in
    whole hours; users still active within KM_CENSOR_US of corpus end
    are RIGHT-CENSORED (lifetime known only as ≥ observed — the
    property that makes this KM rather than a plain ECDF: censored
    users leave the risk set without counting as churn). The segment
    is the user's first event type (deterministic: MIN(event_type)
    among the user's first-timestamp events), so the output reads as
    churn curves by acquisition channel — the retention team's
    companion to A103's cohort LTV and events_retention_cohorts.

    The product-limit estimator S(t) = Π_{tᵢ≤t} (n_riskᵢ − dᵢ)/n_riskᵢ
    is a sequential recurrence, so it runs as the A106/A107 ordered-
    array fold: per segment ONE hours-bounded array (the A106 span-bounded
    argument) of (duration,
    n_all, d) steps, fold state = (remaining risk set, scaled
    survival, emitted rows). Every step is exact integer arithmetic —
    kmᵢ = (km·(n_risk − d)) div n_risk with all quantities
    nonnegative (truncate == floor on both engines); d = 0 steps
    update through (km·n) div n = km exactly, so censoring-only
    durations shrink the risk set without moving the curve, the KM
    invariant. Headroom: km·n_risk ≤ KM_SCALE·n_users must stay
    < 2^53 for the in-lambda exact division — valid to ~9·10⁷ users
    per segment at 8dp; past that drop KM_SCALE a decade per 10×
    (the ESM_SCALE rule) or move the fold state to DECIMAL(38,0).

    Scale shape: one user-keyed aggregate over events (map-side
    combinable), one first-event equi-join for the segment, one
    (segment, duration)-keyed rollup, then folds over arrays bounded
    by the corpus TIME SPAN in hours — never by user count. The
    corpus-end scalar enters the plan as a broadcast 1-row aggregate
    (no collect). Output: one row per (segment, churn duration with
    dᵢ > 0): risk-set size, events, censored-at count, S(t) scaled.
    Value-oracled: DuckDB replays the identical recursion with
    WITH RECURSIVE over the same MATERIALIZED step table."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    base = ev.groupBy("user_id").agg(
        F.min("us").alias("first_us"), F.max("us").alias("last_us")
    )
    seg = (
        ev.join(base, ["user_id"])
        .filter(F.col("us") == F.col("first_us"))
        .groupBy("user_id")
        .agg(F.min("event_type").alias("segment"))
    )
    cend = base.agg(F.max("last_us").alias("corpus_end"))
    users = (
        base.join(seg, "user_id")
        .crossJoin(F.broadcast(cend))
        .select(
            "segment",
            F.expr(f"(last_us - first_us) div {KM_HOUR_US}").alias("duration"),
            (F.col("corpus_end") - F.col("last_us") >= KM_CENSOR_US)
            .cast("long")
            .alias("churned"),
        )
    )
    roll = users.groupBy("segment", "duration").agg(
        F.count("*").cast("bigint").alias("n_all"),
        F.sum("churned").cast("bigint").alias("d"),
    )
    arr = roll.groupBy("segment").agg(
        F.array_sort(F.collect_list(F.struct("duration", "n_all", "d"))).alias(
            "steps"
        ),
        F.sum("n_all").cast("bigint").alias("n0"),
    )
    out_t = (
        "array<struct<duration:bigint,n_risk:bigint,n_events:bigint,"
        "n_censored:bigint,km_scaled:bigint>>"
    )

    def km_fold(steps, n0):
        init = F.struct(
            n0.alias("remaining"),
            F.lit(KM_SCALE).cast("bigint").alias("km"),
            F.expr(f"CAST(array() AS {out_t})").alias("out"),
        )

        def step(acc, s):
            n_risk = acc["remaining"]
            km_new = _km_idiv(acc["km"] * (n_risk - s["d"]), n_risk)
            row = F.struct(
                s["duration"].alias("duration"),
                n_risk.alias("n_risk"),
                s["d"].alias("n_events"),
                (s["n_all"] - s["d"]).alias("n_censored"),
                km_new.alias("km_scaled"),
            )
            return F.struct(
                (acc["remaining"] - s["n_all"]).alias("remaining"),
                km_new.alias("km"),
                F.when(s["d"] > 0, F.concat(acc["out"], F.array(row)))
                .otherwise(acc["out"])
                .alias("out"),
            )

        return F.aggregate(steps, init, step)["out"]

    return arr.select(
        "segment", F.explode(km_fold(F.col("steps"), F.col("n0"))).alias("r")
    ).select(
        "segment",
        F.col("r.duration").alias("duration_hours"),
        F.col("r.n_risk").alias("n_risk"),
        F.col("r.n_events").alias("n_events"),
        F.col("r.n_censored").alias("n_censored_at"),
        F.col("r.km_scaled").alias("km_scaled"),
    )


ORACLES["events_survival_km"] = f"""
WITH RECURSIVE u0 AS MATERIALIZED (
  SELECT user_id, MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us
  FROM events GROUP BY 1
),
seg AS (
  SELECT e.user_id, MIN(e.event_type) AS segment
  FROM events e JOIN u0 ON u0.user_id = e.user_id AND epoch_us(e.ts) = u0.first_us
  GROUP BY 1
),
users AS (
  SELECT s.segment, (u0.last_us - u0.first_us) // {KM_HOUR_US} AS duration,
         CASE WHEN (SELECT MAX(last_us) FROM u0) - u0.last_us >= {KM_CENSOR_US}
              THEN 1 ELSE 0 END AS churned
  FROM u0 JOIN seg s USING (user_id)
),
roll AS (
  SELECT segment, duration, CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(churned) AS BIGINT) AS d
  FROM users GROUP BY 1, 2
),
o AS MATERIALIZED (
  SELECT segment, duration, n_all, d,
         row_number() OVER (PARTITION BY segment ORDER BY duration) AS t,
         CAST(SUM(n_all) OVER (PARTITION BY segment) AS BIGINT) AS n0
  FROM roll
),
km(segment, t, duration, n_risk, d, c, km, remaining) AS (
  SELECT segment, t, duration, n0, d, n_all - d,
         CAST(CAST({KM_SCALE} AS HUGEINT) * (n0 - d) // n0 AS BIGINT),
         n0 - n_all
  FROM o WHERE t = 1
  UNION ALL
  SELECT o.segment, o.t, o.duration, km.remaining, o.d, o.n_all - o.d,
         CAST(CAST(km.km AS HUGEINT) * (km.remaining - o.d) // km.remaining AS BIGINT),
         km.remaining - o.n_all
  FROM km JOIN o ON o.segment = km.segment AND o.t = km.t + 1
)
SELECT segment, CAST(duration AS BIGINT) AS duration_hours, n_risk,
       d AS n_events, c AS n_censored_at, km AS km_scaled
FROM km WHERE d > 0
"""


ACF_MAX_LAG = 6  # hours — unrolled identically in the DuckDB oracle
ACF_HOUR_US = 3_600_000_000  # one hour of epoch-microseconds


def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A111 — autocorrelation function of the per-type hourly count
    series at lags 1..ACF_MAX_LAG, the standard seasonality/memory
    diagnostic that sits before any forecasting choice (is the series
    AR-ish? is there a 24h echo?) — the diagnostic companion to the
    A106/A107 smoothing ladders and the A76 seasonal baseline.

    Exactness discipline (A37/A80): hourly counts are INTEGERS, so
    every moment is an exact BIGINT — per type N, S1 = Σx, S2 = Σx²
    from one keyed aggregate, and per (type, lag) the pair sums
    n_pairs, Σx_t·x_{t+k}, Σx_t, Σx_{t+k} from one equi-join. The
    estimator is the classical ACF with full-series mean and
    denominator, generalized to observed calendar pairs (missing
    hours pair with nothing rather than imputing 0 — the irregular-
    series convention), cleared of the rational mean by multiplying
    through by N²:

      acf_k = (N²·Sab − N·S1·(Sa+Sb) + n_pairs·S1²)
            / (N²·S2 − N·S1²)

    Both numerator and denominator are exact integers accumulated in
    DECIMAL(38,0) (the A100/A105 overflow discipline: N²·S2 passes
    2⁶³ around 10⁹ rows/type; 38 digits keep ~1e9 headroom beyond
    that), with ONE double division rounded to 6dp at the edge — the
    only step where engines could diverge, and 6dp is ~1e6 ulps of
    margin on an O(1) ratio.

    Scale shape: the hourly pre-aggregation is the only pass over
    events (map-side combinable); the lag pairing EXPLODES each
    hourly row into ACF_MAX_LAG keyed probes and equi-joins on
    (type, hour+k) — linear in buckets, never the quadratic
    type-keyed band join a naive BETWEEN spelling would plan. Output
    is types × lags rows."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.expr(f"unix_micros(ts) div {ACF_HOUR_US}").alias("h"),
        )
        .agg(F.count("*").alias("x"))
        .persist()
    )
    try:
        mom = hourly.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("s1"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
        )
        probes = hourly.select(
            "event_type",
            "h",
            F.explode(
                F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))
            ).alias("lag"),
            F.col("x").alias("xa"),
        ).select(
            "event_type",
            "lag",
            (F.col("h") + F.col("lag")).cast("bigint").alias("h"),
            "xa",
        )
        b = hourly.select("event_type", "h", F.col("x").alias("xb"))
        pairs = (
            probes.join(b, ["event_type", "h"])
            .groupBy("event_type", "lag")
            .agg(
                F.count("*").cast("bigint").alias("n_pairs"),
                F.sum(F.col("xa") * F.col("xb")).cast("bigint").alias("sab"),
                F.sum("xa").cast("bigint").alias("sa"),
                F.sum("xb").cast("bigint").alias("sb"),
            )
        )
        # every product starts from a DECIMAL(38,0) factor so the
        # arithmetic never passes through a BIGINT intermediate
        # (mirrors the oracle's HUGEINT casts term-for-term)
        dn = "CAST(n AS DECIMAL(38,0))"
        dp = "CAST(n_pairs AS DECIMAL(38,0))"
        out = (
            pairs.join(mom, "event_type")
            .select(
                "event_type",
                F.col("lag").cast("bigint").alias("lag"),
                "n_pairs",
                F.round(
                    F.expr(
                        f"CAST({dn}*n*sab - {dn}*s1*(sa + sb) + {dp}*s1*s1 AS DOUBLE)"
                        f" / CAST({dn}*n*s2 - {dn}*s1*s1 AS DOUBLE)"
                    ),
                    6,
                ).alias("acf"),
            )
        )
        # one tiny result (types × lags): force it out of the persisted
        # lineage before release
        return out.localCheckpoint(eager=True)
    finally:
        hourly.unpersist()


ORACLES["events_autocorrelation"] = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // {ACF_HOUR_US} AS h, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
mom AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS s1, SUM(x * x) AS s2
  FROM hourly GROUP BY 1
),
pairs AS (
  SELECT a.event_type, l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(a.x * b.x) AS sab, SUM(a.x) AS sa, SUM(b.x) AS sb
  FROM hourly a
  CROSS JOIN (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag) l
  JOIN hourly b ON b.event_type = a.event_type AND b.h = a.h + l.lag
  GROUP BY 1, 2
)
SELECT p.event_type, CAST(p.lag AS BIGINT) AS lag, p.n_pairs,
       ROUND(CAST(CAST(m.n AS HUGEINT)*m.n*p.sab - CAST(m.n AS HUGEINT)*m.s1*(p.sa + p.sb)
                  + CAST(p.n_pairs AS HUGEINT)*m.s1*m.s1 AS DOUBLE)
             / CAST(CAST(m.n AS HUGEINT)*m.n*m.s2 - CAST(m.n AS HUGEINT)*m.s1*m.s1 AS DOUBLE), 6) AS acf
FROM pairs p JOIN mom m USING (event_type)
"""


def events_trend_mk_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A113 — Mann-Kendall trend test + Theil-Sen slope over the
    per-type hourly count series: the nonparametric is-there-a-trend
    answer that belongs next to A111's ACF (is there memory?) and the
    A106/A107 smoothing ladders (what does the level do?) — MK/Sen is
    the standard choice when the series is non-normal and has ties,
    which integer count series always do.

    Exactness discipline (A37/A80): the statistic is built from
    INTEGER pair signs — per type S = Σ_{i<j} sign(x_j − x_i) over
    hour-ordered buckets, an exact BIGINT, and the tie-corrected
    variance is reported as the exact integer
    var18 = N(N−1)(2N+5) − Σ_g t_g(t_g−1)(2t_g+5) (= 18·Var(S); the
    /18 stays symbolic so the audit column is exact). The normal
    z-score uses the classical continuity correction
    z = (S − sign(S)) / sqrt(var18/18) — ONE double sqrt/division
    rounded 6dp at the edge. Theil-Sen is the median of the pairwise
    slopes (x_j − x_i)/(h_j − h_i): each slope is an IEEE division of
    exact small integers (identical in both engines), and the median
    is spelled as the explicit two-middle-positions average over the
    slope-ordered pairs — position VALUES are determined by the
    sorted multiset even when row_number permutes equal slopes, so
    no engine-specific median interpolation is involved.

    Scale shape: the hourly pre-aggregation is the only pass over
    events (map-side combinable). The pair set is the type-keyed
    upper triangle over HOURLY BUCKETS — C(N,2) per type where N is
    CALENDAR-bounded (a 10× corpus in the same window grows x values,
    not bucket count), so the quadratic lives on a spine that does
    not scale with rows; at 100 TB the pair join is still thousands
    of rows per type. Output = one row per type with ≥1 pair."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.expr(f"unix_micros(ts) div {ACF_HOUR_US}").alias("h"),
        )
        .agg(F.count("*").alias("x"))
        .persist()
    )
    pairs = None
    try:
        mom = hourly.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n_buckets")
        )
        ties = (
            hourly.groupBy("event_type", "x")
            .agg(F.count("*").cast("bigint").alias("t"))
            .groupBy("event_type")
            .agg(
                F.sum(
                    F.expr("t * (t - 1) * (2*t + 5)")
                ).cast("bigint").alias("tie18")
            )
        )
        a = hourly.select(
            "event_type", F.col("h").alias("ha"), F.col("x").alias("xa")
        )
        b = hourly.select(
            "event_type", F.col("h").alias("hb"), F.col("x").alias("xb")
        )
        # persist (r12 advisor): the quadratic pair expansion is the
        # expensive frame here and three consumers scan it (agg, the
        # ranked window, the med join) — without this the type-keyed
        # triangle join recomputes per consumer while only the cheap
        # hourly pre-agg was cached
        pairs = (
            a.join(b, "event_type")
            .where(F.col("hb") > F.col("ha"))
            .select(
                "event_type",
                F.expr("CAST(sign(xb - xa) AS BIGINT)").alias("sg"),
                F.expr(
                    "CAST(xb - xa AS DOUBLE) / CAST(hb - ha AS DOUBLE)"
                ).alias("slope"),
            )
            .persist()
        )
        from pyspark.sql import Window

        ranked = pairs.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("slope")
            ),
        )
        agg = pairs.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("sg").cast("bigint").alias("s_mk"),
        )
        med = (
            ranked.join(agg, "event_type")
            .where(
                (F.col("rn") == F.expr("(n_pairs + 1) div 2"))
                | (F.col("rn") == F.expr("(n_pairs + 2) div 2"))
            )
            .groupBy("event_type")
            .agg(F.round(F.avg("slope"), 6).alias("theil_sen"))
        )
        out = (
            agg.join(mom, "event_type")
            .join(ties, "event_type")
            .join(med, "event_type")
            .select(
                "event_type",
                "n_buckets",
                "n_pairs",
                "s_mk",
                F.expr(
                    "n_buckets*(n_buckets - 1)*(2*n_buckets + 5) - tie18"
                ).cast("bigint").alias("var18"),
                F.expr(
                    "CASE WHEN n_buckets*(n_buckets - 1)*(2*n_buckets + 5)"
                    "          - tie18 > 0 AND s_mk <> 0"
                    " THEN ROUND(CAST(s_mk - sign(s_mk) AS DOUBLE)"
                    "      / SQRT(CAST(n_buckets*(n_buckets - 1)"
                    "                  *(2*n_buckets + 5) - tie18"
                    "             AS DOUBLE) / 18.0), 6)"
                    " ELSE 0.0 END"
                ).alias("z_mk"),
                "theil_sen",
                F.expr(
                    "CASE WHEN s_mk > 0 THEN 'increasing'"
                    " WHEN s_mk < 0 THEN 'decreasing'"
                    " ELSE 'flat' END"
                ).alias("trend"),
            )
        )
        # tiny result (one row per type): force it out of the
        # persisted lineage before release
        return out.localCheckpoint(eager=True)
    finally:
        hourly.unpersist()
        if pairs is not None:
            pairs.unpersist()


ORACLES["events_trend_mk_theilsen"] = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // {ACF_HOUR_US} AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
mom AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets
  FROM hourly GROUP BY 1
),
ties AS (
  SELECT event_type, CAST(SUM(t*(t-1)*(2*t+5)) AS BIGINT) AS tie18
  FROM (SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS t
        FROM hourly GROUP BY 1, 2)
  GROUP BY 1
),
pairs AS (
  SELECT a.event_type,
         CAST(SIGN(b.x - a.x) AS BIGINT) AS sg,
         CAST(b.x - a.x AS DOUBLE) / CAST(b.h - a.h AS DOUBLE) AS slope
  FROM hourly a
  JOIN hourly b ON b.event_type = a.event_type AND b.h > a.h
),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(sg) AS BIGINT) AS s_mk
  FROM pairs GROUP BY 1
),
ranked AS (
  SELECT event_type, slope,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS rn
  FROM pairs
),
med AS (
  SELECT r.event_type, ROUND(AVG(r.slope), 6) AS theil_sen
  FROM ranked r JOIN agg g USING (event_type)
  WHERE r.rn IN ((g.n_pairs + 1) // 2, (g.n_pairs + 2) // 2)
  GROUP BY 1
)
SELECT g.event_type, m.n_buckets, g.n_pairs, g.s_mk,
       CAST(m.n_buckets*(m.n_buckets - 1)*(2*m.n_buckets + 5) - t.tie18
            AS BIGINT) AS var18,
       CASE WHEN m.n_buckets*(m.n_buckets - 1)*(2*m.n_buckets + 5)
                 - t.tie18 > 0 AND g.s_mk <> 0
            THEN ROUND(CAST(g.s_mk - SIGN(g.s_mk) AS DOUBLE)
                 / SQRT(CAST(m.n_buckets*(m.n_buckets - 1)
                             *(2*m.n_buckets + 5) - t.tie18
                        AS DOUBLE) / 18.0), 6)
            ELSE 0.0 END AS z_mk,
       d.theil_sen,
       CASE WHEN g.s_mk > 0 THEN 'increasing'
            WHEN g.s_mk < 0 THEN 'decreasing'
            ELSE 'flat' END AS trend
FROM agg g
JOIN mom m USING (event_type)
JOIN ties t USING (event_type)
JOIN med d USING (event_type)
"""


HW_PERIOD = 24  # hours — the daily season of the hourly series
HW_GAMMA_NUM, HW_GAMMA_DEN = 3, 10  # γ = 0.3 as an exact ratio


def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A115 — Holt-Winters ADDITIVE triple exponential smoothing
    (α=0.2, β=0.3, γ=0.3, period 24h), closing the smoothing ladder
    A106 (level) → A107 (level+trend) → A115 (level+trend+season):
    the first member whose one-step forecast s + b + c_{t−m} can
    track the daily cycle A114's decomposition measures.

    Exactness discipline: the THREE-state exact integer recursion at
    ESM_SCALE fixed-point, every division in the explicit pmod floor
    form (level/trend/seasonal deltas all go negative — the A107
    lesson that Spark `div` and DuckDB `//` truncate while the
    recursion is defined with floor):
      s_t = fdiv(2·(x_t·S − c_{t−m}) + 8·(s+b), 10)
      b_t = fdiv(3·(s_t − s_{t−1}) + 7·b, 10)
      c_t = fdiv(3·(x_t·S − s_t) + 7·c_{t−m}, 10)
    Classic initialization on the first full period: s_m = fdiv(Σ_{m}
    x·S, m), b_m = 0, c_i = x_i·S − s_m; the fold runs t = m+1..n and
    requires n ≥ 2m (types with a shorter history are excluded —
    identically on both engines). The seasonal state is the m-vector
    carried as a ROTATING ARRAY in the fold accumulator (head =
    c_{t−m}, the value due next); the DuckDB oracle replays the
    identical recursion with WITH RECURSIVE carrying a LIST — every
    reported state is value-verified, not just the scalar tail.
    sae = Σ fdiv(|x·S − (s+b+c_{t−m})|, S) is the cumulative one-step
    absolute forecast error in count units.

    Scale shape: one map-side-combinable hourly pre-aggregation, one
    type-keyed collect into HOURS-sized arrays (calendar-bounded —
    the A106 rule), one fold per type with O(m) state. Headroom: the
    fold terms stay double-exact while counts < ~10^8/hour (v <
    2^53, the ESM rule); past that drop ESM_SCALE a decade per 100×.
    Output: final level/trend, seasonal head + sum audit, sae, and
    the one-step forecast."""
    ev = load_table(spark, sf_dir, "events")
    m = HW_PERIOD
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").cast("bigint").alias("x"))
        .select(F.unix_micros(F.col("w.start")).alias("h"), "event_type", "x")
    )
    arr = hourly.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("h", "x"))), lambda s: s["x"]
        ).alias("xs")
    ).where(F.size("xs") >= 2 * m)

    s0 = _esm_idiv(
        F.aggregate(
            F.slice("xs", 1, m),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        * ESM_SCALE,
        m,
    )

    def hw_fold(xs, s_init):
        init = F.struct(
            s_init.alias("s"),
            F.lit(0).cast("bigint").alias("b"),
            F.transform(
                F.slice(xs, 1, m), lambda x: (x * ESM_SCALE - s_init).cast("bigint")
            ).alias("c"),
            F.lit(0).cast("bigint").alias("sae"),
        )

        def step(acc, x):
            cm = F.element_at(acc["c"], 1)
            snew = _esm_idiv(
                ESM_ALPHA_NUM * (x * ESM_SCALE - cm)
                + (ESM_ALPHA_DEN - ESM_ALPHA_NUM) * (acc["s"] + acc["b"]),
                ESM_ALPHA_DEN,
            )
            cnew = _esm_idiv(
                HW_GAMMA_NUM * (x * ESM_SCALE - snew)
                + (HW_GAMMA_DEN - HW_GAMMA_NUM) * cm,
                HW_GAMMA_DEN,
            )
            return F.struct(
                snew.alias("s"),
                _esm_idiv(
                    HOLT_BETA_NUM * (snew - acc["s"])
                    + (HOLT_BETA_DEN - HOLT_BETA_NUM) * acc["b"],
                    HOLT_BETA_DEN,
                ).alias("b"),
                F.concat(
                    F.slice(acc["c"], 2, m - 1), F.array(cnew.cast("bigint"))
                ).alias("c"),
                (
                    acc["sae"]
                    + _esm_idiv(
                        F.abs(x * ESM_SCALE - (acc["s"] + acc["b"] + cm)),
                        ESM_SCALE,
                    )
                ).alias("sae"),
            )

        return F.aggregate(
            F.slice(xs, m + 1, F.greatest(F.size(xs) - m, F.lit(0))), init, step
        )

    staged = arr.select(
        "event_type",
        F.size("xs").cast("bigint").alias("n_hours"),
        hw_fold(F.col("xs"), s0).alias("full"),
    )
    return staged.select(
        "event_type",
        "n_hours",
        F.col("full.s").alias("s_final"),
        F.col("full.b").alias("b_final"),
        F.element_at(F.col("full.c"), 1).alias("c_head"),
        F.aggregate(
            F.col("full.c"), F.lit(0).cast("bigint"), lambda a, c: a + c
        ).alias("c_sum"),
        F.col("full.sae").alias("sae_units"),
        (
            F.col("full.s") + F.col("full.b") + F.element_at(F.col("full.c"), 1)
        ).alias("forecast_1h"),
    )


ORACLES["events_holt_winters"] = f"""
WITH RECURSIVE h AS MATERIALIZED (
  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hh,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
o AS MATERIALIZED (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY hh) AS t,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM h
),
s0 AS MATERIALIZED (
  SELECT event_type, (SUM(x) * {ESM_SCALE}) // {HW_PERIOD} AS s_init
  FROM o WHERE t <= {HW_PERIOD} GROUP BY 1
),
c0 AS MATERIALIZED (
  SELECT o.event_type,
         list(o.x * {ESM_SCALE} - s0.s_init ORDER BY o.t) AS c
  FROM o JOIN s0 USING (event_type)
  WHERE o.t <= {HW_PERIOD} GROUP BY 1
),
hw AS (
  SELECT o.event_type, CAST({HW_PERIOD} AS BIGINT) AS t,
         s0.s_init AS s, CAST(0 AS BIGINT) AS b, c0.c AS c,
         CAST(0 AS BIGINT) AS sae, o.n
  FROM (SELECT DISTINCT event_type, n FROM o WHERE n >= {2 * HW_PERIOD}) o
  JOIN s0 USING (event_type) JOIN c0 USING (event_type)
  UNION ALL
  SELECT event_type, t, snew,
         {_holt_fdiv_sql(f"{HOLT_BETA_NUM} * (snew - sold) + {HOLT_BETA_DEN - HOLT_BETA_NUM} * bold", HOLT_BETA_DEN)},
         list_concat(crest, [{_holt_fdiv_sql(f"{HW_GAMMA_NUM} * (xs - snew) + {HW_GAMMA_DEN - HW_GAMMA_NUM} * cm", HW_GAMMA_DEN)}]),
         sae_new, n
  FROM (
    SELECT o.event_type, o.t, hw.s AS sold, hw.b AS bold, hw.n,
           o.x * {ESM_SCALE} AS xs, hw.c[1] AS cm, hw.c[2:] AS crest,
           {_holt_fdiv_sql(f"{ESM_ALPHA_NUM} * (o.x * {ESM_SCALE} - hw.c[1]) + {ESM_ALPHA_DEN - ESM_ALPHA_NUM} * (hw.s + hw.b)", ESM_ALPHA_DEN)} AS snew,
           hw.sae + abs(o.x * {ESM_SCALE} - (hw.s + hw.b + hw.c[1])) // {ESM_SCALE} AS sae_new
    FROM hw JOIN o ON o.event_type = hw.event_type AND o.t = hw.t + 1
  )
)
SELECT event_type, CAST(n AS BIGINT) AS n_hours,
       CAST(s AS BIGINT) AS s_final, CAST(b AS BIGINT) AS b_final,
       CAST(c[1] AS BIGINT) AS c_head, CAST(list_sum(c) AS BIGINT) AS c_sum,
       CAST(sae AS BIGINT) AS sae_units,
       CAST(s + b + c[1] AS BIGINT) AS forecast_1h
FROM hw WHERE t = n
"""


DEC_HALF = 12  # centered moving-average half-width (25h window)
DEC_WINDOW = 2 * DEC_HALF + 1
DEC_SCALE = 1_000_000  # 6dp fixed-point for trend/seasonal/residual


def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A114 — classical additive seasonal decomposition of the
    per-type hourly count series: trend via a centered 25-hour
    moving average, hour-of-day seasonal index from the DETRENDED
    series, and a per-type residual-variance audit. This is the
    decomposition that sits between A76 (raw same-hour profile — no
    trend removal, so a growth trend leaks into its seasonal cells)
    and the A106/A107 forecast ladders (which need to know whether
    level or season dominates).

    Exactness discipline (A37/A80 + the A107 floor rule): hourly
    counts are integers, so every stage is exact fixed-point at
    DEC_SCALE=1e6.
      trend_t  = (Σ_{|k|≤12} x_{t+k} · SCALE) div 25 — defined ONLY
                 on full calendar windows (RANGE frame on the hour
                 integer + cnt=25 guard, the A80 range-frame
                 discipline: ROWS would silently span gaps);
                 Σx ≥ 0 ⇒ truncate == floor.
      detr_t   = x_t·SCALE − trend_t, which goes NEGATIVE — so the
                 seasonal mean uses the explicit pmod floor form
                 (s − ((s % n) + n) % n) div n on BOTH engines
                 (Spark div and DuckDB // truncate toward zero while
                 the recursion is defined with floor; the A107
                 planted-series test proves they diverge otherwise).
      residual = detr − seasonal(hour-of-day); the SSE accumulates
                 in DECIMAL(38,0) (= DuckDB HUGEINT term-for-term —
                 squares reach ~1e22 at sf10-scale counts, far past
                 BIGINT) and is reported as the exact variance floor
                 resid_var_scaled = SSE div (n·SCALE).
    Headroom: Σx·SCALE < 2⁶³ holds to ~3.7e11 events per 25h window
    per type; SSE DECIMAL(38,0) holds to ~1e38 (≈1e7× past sf10).

    Scale shape: ONE map-side-combinable pass over events builds the
    hourly spine; everything after (RANGE window, hour-of-day agg,
    broadcast per-type audit join) runs on the CALENDAR-bounded
    spine that does not grow with data volume — the A113 law again.
    Output = (type × hour-of-day) seasonal cells with the per-type
    audit columns replicated."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.expr(f"unix_micros(ts) div {ACF_HOUR_US}").alias("h"),
        )
        .agg(F.count("*").alias("x"))
        .persist()
    )
    try:
        w = (
            Window.partitionBy("event_type")
            .orderBy("h")
            .rangeBetween(-DEC_HALF, DEC_HALF)
        )
        trended = (
            hourly.withColumn("cnt", F.count("x").over(w))
            .withColumn("sx", F.sum("x").over(w))
            .where(F.col("cnt") == DEC_WINDOW)
            .select(
                "event_type",
                "h",
                F.expr(
                    f"x * CAST({DEC_SCALE} AS BIGINT)"
                    f" - (sx * CAST({DEC_SCALE} AS BIGINT)) div {DEC_WINDOW}"
                ).alias("detr"),
            )
        )
        seasonal = (
            trended.groupBy(
                "event_type",
                F.expr("pmod(h, 24)").cast("int").alias("hour_of_day"),
            )
            .agg(
                F.count("*").cast("bigint").alias("n_cells"),
                F.sum("detr").cast("bigint").alias("sd"),
            )
            .select(
                "event_type",
                "hour_of_day",
                "n_cells",
                F.expr(
                    "(sd - (((sd % n_cells) + n_cells) % n_cells))"
                    " div n_cells"
                ).cast("bigint").alias("seasonal_scaled"),
            )
        )
        resid = (
            trended.withColumn(
                "hour_of_day", F.expr("pmod(h, 24)").cast("int")
            )
            .join(
                seasonal.select(
                    "event_type", "hour_of_day", "seasonal_scaled"
                ),
                ["event_type", "hour_of_day"],
            )
            .groupBy("event_type")
            .agg(
                F.count("*").cast("bigint").alias("n_detrended"),
                F.sum(
                    F.expr(
                        "CAST(detr - seasonal_scaled AS DECIMAL(38,0))"
                        " * CAST(detr - seasonal_scaled AS DECIMAL(38,0))"
                    )
                ).alias("sse"),
            )
            .select(
                "event_type",
                "n_detrended",
                F.expr(
                    f"CAST(sse div (n_detrended"
                    f" * CAST({DEC_SCALE} AS DECIMAL(38,0))) AS BIGINT)"
                ).alias("resid_var_scaled"),
            )
        )
        out = seasonal.join(F.broadcast(resid), "event_type").select(
            "event_type",
            "hour_of_day",
            "n_cells",
            "seasonal_scaled",
            "n_detrended",
            "resid_var_scaled",
        )
        return out.localCheckpoint(eager=True)
    finally:
        hourly.unpersist()


ORACLES["events_seasonal_decompose"] = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // {ACF_HOUR_US} AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
trended AS (
  SELECT event_type, h,
         x * {DEC_SCALE} - (sx * {DEC_SCALE}) // {DEC_WINDOW} AS detr
  FROM (
    SELECT event_type, h, x,
           COUNT(x) OVER w AS cnt, SUM(x) OVER w AS sx
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY h
                 RANGE BETWEEN {DEC_HALF} PRECEDING
                       AND {DEC_HALF} FOLLOWING)
  )
  WHERE cnt = {DEC_WINDOW}
),
seasonal AS (
  SELECT event_type,
         CAST(((h % 24) + 24) % 24 AS INTEGER) AS hour_of_day,
         CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST((SUM(detr) - (((SUM(detr) % COUNT(*)) + COUNT(*))
               % COUNT(*))) // COUNT(*) AS BIGINT) AS seasonal_scaled
  FROM trended GROUP BY 1, 2
),
resid AS (
  SELECT t.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_detrended,
         CAST(SUM(CAST(t.detr - s.seasonal_scaled AS HUGEINT)
                  * CAST(t.detr - s.seasonal_scaled AS HUGEINT))
              // (COUNT(*) * CAST({DEC_SCALE} AS HUGEINT))
              AS BIGINT) AS resid_var_scaled
  FROM trended t
  JOIN seasonal s
    ON s.event_type = t.event_type
   AND s.hour_of_day = CAST(((t.h % 24) + 24) % 24 AS INTEGER)
  GROUP BY 1
)
SELECT s.event_type, s.hour_of_day, s.n_cells, s.seasonal_scaled,
       r.n_detrended, r.resid_var_scaled
FROM seasonal s JOIN resid r USING (event_type)
"""


QUERIES = {
    "events_holt_winters": events_holt_winters,
    "events_seasonal_decompose": events_seasonal_decompose,
    "events_trend_mk_theilsen": events_trend_mk_theilsen,
    "events_survival_km": events_survival_km,
    "events_autocorrelation": events_autocorrelation,
    "events_exp_smoothing": events_exp_smoothing,
    "events_holt_trend": events_holt_trend,
    "events_attribution_models": events_attribution_models,
    "events_cohort_ltv": events_cohort_ltv,
    "events_timeseries_backtest": events_timeseries_backtest,
    "events_cusum_changepoint": events_cusum_changepoint,
    "events_dau_wau_stickiness": events_dau_wau_stickiness,
    "events_sequence_match": events_sequence_match,
    "events_conversion_lag": events_conversion_lag,
    "events_top_paths": events_top_paths,
    "events_seasonal_baseline": events_seasonal_baseline,
    "events_sessionize": events_sessionize,
    "events_time_weighted_avg": events_time_weighted_avg,
    "events_gap_fill": events_gap_fill,
    "events_rolling_window": events_rolling_window,
    "events_value_band_join": events_value_band_join,
    "events_retention_cohorts": events_retention_cohorts,
    "events_tumbling_window": events_tumbling_window,
    "events_hopping_window": events_hopping_window,
    "events_funnel": events_funnel,
    "events_asof_join": events_asof_join,
    "events_json_extract": events_json_extract,
    "events_interval_join_bucketed": events_interval_join_bucketed,
    "events_anomaly_zscore": events_anomaly_zscore,
    "events_rolling_distinct": events_rolling_distinct,
    "events_range_frame_window": events_range_frame_window,
    "events_funnel_conversion": events_funnel_conversion,
    "json_function_matrix": json_function_matrix,
    "asof_direction_matrix": asof_direction_matrix,
    "timeseries_feature_frame": timeseries_feature_frame,
    "events_variant_extract": events_variant_extract,
}
