"""Mergeable-sketch aggregate library (SURVEY.md §2.2 A21 extended;
theta set-algebra, KLL quantiles, HLL rollup-by-union).

Why sketches at 100 TB: a sketch is a fixed-size mergeable binary
summary built map-side in ONE scan; re-aggregating along a coarser
dimension unions the sketch bytes instead of rescanning the fact
table, and set algebra (union / intersection / difference) that is
unanswerable from plain per-group counts falls out of the sketch
representation. The reference's pandas rollups (main.py:120-170
recompute aggregates per run) have no equivalent — this is the
capability a 100 TB corpus needs instead.

All three families ride Spark's built-in Apache Datasketches
bindings (`theta_*`, `kll_*`, `hll_*` in pyspark.sql.functions) —
JVM-side partial aggregation with map-side combine, zero Python in
the data path. Estimates are engine-specific by design, so these are
rows-only contract queries; tests/test_sketches.py pins every
estimate to its exact twin with the sketch family's error bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from proceso_de_etl_spark import cachereg
from proceso_de_etl_spark.functions.hashing import md5_int, md5_int_sql
from proceso_de_etl_spark.sources.catalog import load_table
from proceso_de_etl_spark.sources.local import local_frame

ORACLES: dict[str, str] = {}


def sketch_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra over part-key sets: which parts ship
    as returns (flag A) vs refused (flag R), and how much they
    overlap. One scan builds a sketch per flag (partial agg +
    map-side combine); union / intersection / difference are then
    pure sketch ops on two binary values — no re-scan, no join. An
    exact answer needs a self-join or two COUNT(DISTINCT) passes plus
    an intersection join; at 100 TB the sketch route touches the
    fact table once."""
    li = load_table(spark, sf_dir, "lineitem")
    per_flag = (
        li.filter(F.col("l_returnflag").isin("A", "R"))
        .groupBy("l_returnflag")
        .agg(F.theta_sketch_agg("l_partkey").alias("sk"))
    )
    wide = per_flag.agg(
        F.first(F.when(F.col("l_returnflag") == "A", F.col("sk")), ignorenulls=True).alias("ska"),
        F.first(F.when(F.col("l_returnflag") == "R", F.col("sk")), ignorenulls=True).alias("skr"),
    )
    return wide.select(
        F.theta_sketch_estimate("ska").cast("bigint").alias("est_parts_a"),
        F.theta_sketch_estimate("skr").cast("bigint").alias("est_parts_r"),
        F.theta_sketch_estimate(F.theta_union("ska", "skr")).cast("bigint").alias("est_union"),
        F.theta_sketch_estimate(F.theta_intersection("ska", "skr")).cast("bigint").alias("est_intersection"),
        F.theta_sketch_estimate(F.theta_difference("ska", "skr")).cast("bigint").alias("est_a_only"),
    )


def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketches of extended price, per return flag AND
    merged to a global row — the merge consumes the per-flag sketch
    BYTES (kll_merge_agg), not the data, which is the scale story:
    per-partition/per-day sketches roll up to any coarser grain for
    free. get_n is exact by construction; quantiles carry the KLL
    rank-error bound (~1.65% at default k=200), pinned in tests.

    Both output branches derive from the same per-flag aggregate;
    AQE's exchange reuse shares it at runtime (the final adaptive
    plan carries one ReusedExchange), so lineitem is scanned ONCE
    even though the subtree appears twice in the logical plan."""
    li = load_table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_double("l_extendedprice").alias("sk")
    )

    def _quantiles(df: DataFrame, scope_col) -> DataFrame:
        return df.select(
            scope_col.alias("scope"),
            F.kll_sketch_get_n_double("sk").cast("bigint").alias("n"),
            F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.25)), 2).alias("p25"),
            F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.50)), 2).alias("p50"),
            F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.75)), 2).alias("p75"),
        )

    flags = _quantiles(per_flag, F.col("l_returnflag"))
    merged = _quantiles(
        per_flag.agg(F.kll_merge_agg_double("sk").alias("sk")), F.lit("ALL")
    )
    return flags.unionByName(merged)


def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL rollup-by-union: distinct-customer sketches built at the
    fine (year, priority) grain, then rolled up to per-year distinct
    estimates by unioning sketches — the fact table is scanned once
    and every coarser grain is answered from the stored sketches.
    Plain COUNT(DISTINCT) per cell can NOT be rolled up (distinct is
    not additive); the sketch union is, which is why 100 TB metric
    stores persist sketches, not counts."""
    orders = load_table(spark, sf_dir, "orders")
    per_cell = orders.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"), "o_orderpriority"
    ).agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count("*").alias("n_orders"),
    )
    return per_cell.groupBy("yr").agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum("n_orders").cast("bigint").alias("n_orders"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias("est_customers"),
    )


CMS_EPS = 0.0005  # over-estimate bound: est - exact <= eps * totalCount
CMS_CONF = 0.99
CMS_SEED = 42
CMS_PROBES = ("join", "hash", "row", "scan", "data", "the", "merge", "zzz_absent_token")


def sketch_count_min_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A45 — count-min frequency sketch over the corpus token stream:
    point-frequency estimates from a fixed-size mergeable summary —
    the streaming/observability answer to "how often does THIS token
    appear" without storing the vocabulary-sized exact count table.
    One scan builds the sketch (JVM partial agg, map-side combine,
    width 2e/eps x depth ln(1/δ) counters regardless of corpus
    size); the probe set is answered by decoding the sketch bytes ON
    THE DRIVER — a bounded round-trip (one binary value, like the
    k-means centroid collect), not a data collect. CMS never
    under-estimates and over-estimates by at most eps·N with
    confidence δ (test-pinned vs exact counts). Estimates are
    hash-layout-specific, so rows-only."""
    from proceso_de_etl_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    row = tok.agg(
        F.count_min_sketch(
            "tok", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED)
        ).alias("sk")
    ).collect()[0]
    sk = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes(row.sk))
    rows = [(t, int(sk.estimateCount(t)), int(sk.totalCount())) for t in CMS_PROBES]
    return local_frame(spark, rows, "token string, est_count long, n_total long")


# ---------------------------------------------------------------------------
# Portable companions (r7): the three Datasketches keys above are
# rows-only BECAUSE their estimates live inside engine-internal binary
# layouts. Each gets a twin built from the repo's portable md5-60bit
# hash family (dedup.py's discipline): the sketch STATE is a plain
# integer table (k-minimum hash values / max-rho registers / counter
# matrix) that any engine reproduces bit-for-bit, so the keys are
# value-oracled against DuckDB — and the state can be persisted as
# parquet and merged by a different engine later, which is the actual
# 100 TB sketch-store contract. Estimates stay deterministic: every
# float step is a single multiply+divide over exact integers (all
# decision margins measured in tests/test_properties.py).

_H60_SPACE = float(1 << 60)  # exactly representable (power of two)
KMV_K = 256


def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A33b — portable KMV (k-minimum-values) set algebra: the theta
    sketch's estimator core with a transparent state. Per return flag
    the sketch IS the K smallest 60-bit hashes of the distinct part
    keys; distinct estimate = (K-1) / U_(K) (Bar-Yossef et al. 2002),
    union sketch = K smallest of the two kept sets, intersection via
    the Jaccard fraction observed inside the union sketch. Fewer than
    K distincts → the sketch is the exact set (est = n).

    Scale shape: the K-smallest selection is two-stage — per
    (flag, h%16) salt cell first (map-side bounded), then per flag on
    the ≤16·K survivors — so no task ever sorts more than its salt
    cell and the final window touches K·16 rows, not the corpus.
    All set algebra then runs on ≤2K-row frames."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    # ONE distinct on (flag, h), mirroring the oracle's SELECT
    # DISTINCT (flag, h): hashing first and deduping once collapses
    # duplicate part keys AND 60-bit collisions in the same shuffle
    # (r7 advisor's collision semantics, r8 verdict's perf item — the
    # earlier pre-hash + post-hash double distinct paid a second full
    # exchange for rows the first had already bounded; the map-side
    # partial aggregate of this distinct is the row reducer). md5 runs
    # per input row instead of per distinct key, which is cheaper
    # than a second shuffle at every SF measured.
    keyed = (
        li.filter(F.col("l_returnflag").isin("A", "R"))
        .select("l_returnflag", md5_int(F.col("l_partkey").cast("string"), 15).alias("h"))
        .distinct()
    )
    w_salt = Window.partitionBy("l_returnflag", F.pmod(F.col("h"), F.lit(16))).orderBy("h")
    stage1 = (
        keyed.withColumn("rn", F.row_number().over(w_salt))
        .filter(F.col("rn") <= KMV_K)
        .drop("rn")
    )
    w_flag = Window.partitionBy("l_returnflag").orderBy("h")
    # ≤ 2K rows after the top-k, but FOUR consumers fan out below
    # (ka/kr/union/hit counts) — memoized persist via cachereg so the
    # distinct+hash+window pipeline over the fact table materializes
    # once per (app, sf_dir) and repeated invocations (bench reps)
    # reuse ONE released-on-hook entry instead of stacking new pinned
    # frames (r7 advisor)
    kept = cachereg.memo(
        spark,
        "kmv_kept",
        sf_dir,
        lambda: stage1.withColumn("rn", F.row_number().over(w_flag))
        .filter(F.col("rn") <= KMV_K)
        .drop("rn"),
    )
    ka = kept.filter(F.col("l_returnflag") == "A").select("h")
    kr = kept.filter(F.col("l_returnflag") == "R").select("h")
    # union sketch = K smallest of the two kept sets (≤ 2K rows);
    # orderBy+limit compiles to TakeOrderedAndProject, no global window
    ku = ka.union(kr).distinct().orderBy("h").limit(KMV_K)

    def _est(n_col, kth_col) -> F.Column:
        # (K-1)/U_(K); both factors exact: 255*2^60 has 8 significant
        # bits, kth→double rounds by one deterministic IEEE step
        return (
            F.when(n_col < KMV_K, n_col)
            .otherwise(
                F.round(F.lit(float(KMV_K - 1)) * F.lit(_H60_SPACE) / kth_col)
            )
            .cast("bigint")
        )

    agg_a = ka.agg(F.count("*").alias("n_a"), F.max("h").alias("kth_a"))
    agg_r = kr.agg(F.count("*").alias("n_r"), F.max("h").alias("kth_r"))
    agg_u = ku.agg(F.count("*").alias("n_union"), F.max("h").alias("kth_union"))
    hits = (
        ku.join(ka, "h", "semi")
        .join(kr, "h", "semi")
        .agg(F.count("*").alias("inter_hits"))
    )
    wide = agg_a.crossJoin(agg_r).crossJoin(agg_u).crossJoin(hits)
    est = wide.select(
        F.lit(KMV_K).cast("bigint").alias("k"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_r").cast("bigint").alias("n_r"),
        F.col("n_union").cast("bigint").alias("n_union"),
        F.col("kth_a"),
        F.col("kth_r"),
        _est(F.col("n_a"), F.col("kth_a")).alias("est_parts_a"),
        _est(F.col("n_r"), F.col("kth_r")).alias("est_parts_r"),
        _est(F.col("n_union"), F.col("kth_union")).alias("est_union"),
        F.col("inter_hits").cast("bigint").alias("inter_hits"),
    )
    return est.select(
        "k",
        "n_a",
        "n_r",
        "n_union",
        "kth_a",
        "kth_r",
        "est_parts_a",
        "est_parts_r",
        "est_union",
        "inter_hits",
        # Jaccard-in-union-sketch estimator: hits/|union sketch| of
        # est_union (the denominator is the sketch's ACTUAL size —
        # = K in sketch mode, < K in exact mode); exact-int product
        # (hits ≤ 256, est ≤ ~1e6) then ONE divide
        F.round(F.col("inter_hits").cast("double") * F.col("est_union") / F.col("n_union"))
        .cast("bigint")
        .alias("est_intersection"),
    ).withColumn(
        "est_a_only",
        F.greatest(F.col("est_parts_a") - F.col("est_intersection"), F.lit(0).cast("bigint")),
    )


ORACLES["sketch_kmv_setops"] = f"""
WITH keyed AS (
  SELECT DISTINCT l_returnflag AS flag,
         {md5_int_sql("CAST(l_partkey AS VARCHAR)", 15)} AS h
  FROM lineitem WHERE l_returnflag IN ('A', 'R')
),
ka AS (SELECT h FROM keyed WHERE flag = 'A' ORDER BY h LIMIT {KMV_K}),
kr AS (SELECT h FROM keyed WHERE flag = 'R' ORDER BY h LIMIT {KMV_K}),
ku AS (
  SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kr)
  ORDER BY h LIMIT {KMV_K}
),
agg_a AS (SELECT COUNT(*) AS n_a, MAX(h) AS kth_a FROM ka),
agg_r AS (SELECT COUNT(*) AS n_r, MAX(h) AS kth_r FROM kr),
agg_u AS (SELECT COUNT(*) AS n_union, MAX(h) AS kth_union FROM ku),
hits AS (
  SELECT COUNT(*) AS inter_hits FROM ku
  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kr)
),
est AS (
  SELECT CAST({KMV_K} AS BIGINT) AS k,
         CAST(n_a AS BIGINT) AS n_a, CAST(n_r AS BIGINT) AS n_r,
         CAST(n_union AS BIGINT) AS n_union,
         kth_a, kth_r,
         CAST(CASE WHEN n_a < {KMV_K} THEN n_a
              ELSE ROUND({float(KMV_K - 1)!r} * {_H60_SPACE!r} / kth_a) END AS BIGINT) AS est_parts_a,
         CAST(CASE WHEN n_r < {KMV_K} THEN n_r
              ELSE ROUND({float(KMV_K - 1)!r} * {_H60_SPACE!r} / kth_r) END AS BIGINT) AS est_parts_r,
         CAST(CASE WHEN n_union < {KMV_K} THEN n_union
              ELSE ROUND({float(KMV_K - 1)!r} * {_H60_SPACE!r} / kth_union) END AS BIGINT) AS est_union,
         CAST(inter_hits AS BIGINT) AS inter_hits
  FROM agg_a, agg_r, agg_u, hits
)
SELECT k, n_a, n_r, n_union, kth_a, kth_r, est_parts_a, est_parts_r, est_union,
       inter_hits,
       CAST(ROUND(CAST(inter_hits AS DOUBLE) * est_union / n_union) AS BIGINT)
         AS est_intersection,
       GREATEST(est_parts_a
                - CAST(ROUND(CAST(inter_hits AS DOUBLE) * est_union / n_union) AS BIGINT),
                CAST(0 AS BIGINT)) AS est_a_only
FROM est
"""


HLLP_M = 256  # 2^8 buckets: md5 hex chars 1-2 route, chars 3-15 rank
HLLP_ALPHA = 0.7182725932495458  # 0.7213/(1+1.079/m) for m=256
_POW2_53 = float(1 << 53)


def sketch_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A35b — portable HLL registers, value-oracled: distinct-customer
    sketches at the (year, priority) grain rolled up to per-year by
    register-wise MAX — the union that makes HLL mergeable, here on a
    transparent integer state. bucket = first md5 byte; rho = leading
    zeros of the next 52 bits + 1 (via the binary-string length of
    conv/bin — pure integer logic, no floats). The indicator sum is
    kept SCALED-INTEGER: sum(2^(53-reg)) + empties·2^53 fits BIGINT
    exactly, so the only float steps are one multiply chain and one
    divide on exact integers (raw estimate) and one log (linear
    counting — boundary margin measured in tests). Flajolet et al.
    2007 small-range rule picks which estimate `est_customers` carries.

    Scale shape: ONE scan of orders → groupBy at the fine grain
    (map-side partial max), rollup re-aggregates the 256-row-per-cell
    register table, never the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    md = F.md5(F.col("o_custkey").cast("string"))
    vhex = F.substring(md, 3, 13)
    v = F.conv(vhex, 16, 10).cast("bigint")
    rho = F.when(v == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.conv(vhex, 16, 2))
    )
    fine = (
        orders.select(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.col("o_orderpriority").alias("prio"),
            F.conv(F.substring(md, 1, 2), 16, 10).cast("int").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("yr", "prio", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    # rollup-by-union: register-wise max across priorities
    per_year = fine.groupBy("yr", "bucket").agg(F.max("reg").alias("reg"))
    agg = per_year.groupBy("yr").agg(
        F.count("*").cast("bigint").alias("buckets_hit"),
        F.sum("reg").cast("bigint").alias("reg_sum"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - reg)"))
        .cast("bigint")
        .alias("denom_hit"),
    )
    denom = (
        F.col("denom_hit")
        + (F.lit(HLLP_M).cast("bigint") - F.col("buckets_hit"))
        * F.lit(1 << 53).cast("bigint")
    )
    zeros = F.lit(HLLP_M).cast("bigint") - F.col("buckets_hit")
    est_raw = F.round(
        F.lit(HLLP_ALPHA)
        * F.lit(float(HLLP_M * HLLP_M))
        * F.lit(_POW2_53)
        / F.col("denom_scaled")
    ).cast("bigint")
    est_lc = F.round(
        -F.lit(float(HLLP_M)) * F.log(F.col("zeros").cast("double") / F.lit(float(HLLP_M)))
    ).cast("bigint")
    return (
        agg.withColumn("denom_scaled", denom.cast("bigint"))
        .withColumn("zeros", zeros)
        .select(
            "yr",
            "buckets_hit",
            "reg_sum",
            "denom_scaled",
            est_raw.alias("est_raw"),
            F.when(
                (F.col("zeros") > 0) & (est_raw <= F.lit(int(2.5 * HLLP_M))), est_lc
            )
            .otherwise(est_raw)
            .alias("est_customers"),
        )
        .orderBy("yr")
    )


ORACLES["sketch_hll_portable"] = f"""
WITH fine AS (
  SELECT EXTRACT(year FROM o_orderdate) AS yr, o_orderpriority AS prio,
         CAST({md5_int_sql("CAST(o_custkey AS VARCHAR)", 2)} AS INT) AS bucket,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 3, 13)) AS BIGINT) = 0
              THEN 53
              ELSE 53 - length(bin(CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 3, 13)) AS BIGINT)))
         END AS rho
  FROM orders
),
regs_fine AS (
  SELECT yr, prio, bucket, MAX(rho) AS reg FROM fine GROUP BY 1, 2, 3
),
regs AS (SELECT yr, bucket, MAX(reg) AS reg FROM regs_fine GROUP BY 1, 2),
agg AS (
  SELECT yr,
         CAST(COUNT(*) AS BIGINT) AS buckets_hit,
         CAST(SUM(reg) AS BIGINT) AS reg_sum,
         CAST(SUM(CAST(1 AS BIGINT) << (53 - reg))
              + ({HLLP_M} - COUNT(*)) * (CAST(1 AS BIGINT) << 53) AS BIGINT) AS denom_scaled,
         CAST({HLLP_M} - COUNT(*) AS BIGINT) AS zeros
  FROM regs GROUP BY yr
)
SELECT CAST(yr AS BIGINT) AS yr, buckets_hit, reg_sum, denom_scaled,
       CAST(ROUND(CAST({HLLP_ALPHA!r} AS DOUBLE) * {float(HLLP_M * HLLP_M)!r} * {_POW2_53!r} / denom_scaled) AS BIGINT) AS est_raw,
       CASE WHEN zeros > 0
             AND CAST(ROUND(CAST({HLLP_ALPHA!r} AS DOUBLE) * {float(HLLP_M * HLLP_M)!r} * {_POW2_53!r} / denom_scaled) AS BIGINT)
                 <= {int(2.5 * HLLP_M)}
            THEN CAST(ROUND(-{float(HLLP_M)!r} * ln(CAST(zeros AS DOUBLE) / {float(HLLP_M)!r})) AS BIGINT)
            ELSE CAST(ROUND(CAST({HLLP_ALPHA!r} AS DOUBLE) * {float(HLLP_M * HLLP_M)!r} * {_POW2_53!r} / denom_scaled) AS BIGINT)
       END AS est_customers
FROM agg ORDER BY yr
"""


CMSP_DEPTH = 4
CMSP_WIDTH = 2048  # 4 rows x 2048 counters: one md5 yields all 4 cells


def _cmsp_cells(md_col) -> list:
    """Four 28-bit slices of one md5 → one cell index per depth row
    (7 hex chars each; one hash evaluation per token, like the
    minhash family's shared-base trick)."""
    return [
        F.pmod(
            F.conv(F.substring(md_col, 1 + 7 * d, 7), 16, 10).cast("bigint"),
            F.lit(CMSP_WIDTH),
        ).alias(f"c{d}")
        for d in range(CMSP_DEPTH)
    ]


def sketch_cms_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A45b — portable count-min sketch, value-oracled: the counter
    matrix (4 x 2048 BIGINTs) is built by ONE groupBy over the token
    stream (map-side combine; the sketch state crossing the shuffle is
    ≤ depth·width rows regardless of corpus size) with cells addressed
    by 28-bit slices of one md5 per token. Point estimate = min over
    the 4 row counters (Cormode & Muthukrishnan 2005) — pure integers
    end to end, so DuckDB replays counters AND estimates exactly.
    Same probe set / output shape as the Datasketches twin
    (`sketch_count_min_tokens`), which keeps carrying the JVM-binary
    variant; tests pin the two keys' estimates against the same exact
    counts."""
    from proceso_de_etl_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    hashed = tok.select(*_cmsp_cells(F.md5(F.col("tok"))))
    counters = (
        hashed.select(
            F.posexplode(F.array(*[F.col(f"c{d}") for d in range(CMSP_DEPTH)])).alias(
                "depth", "cell"
            )
        )
        .groupBy("depth", "cell")
        .agg(F.count("*").alias("cnt"))
    )
    total = tok.agg(F.count("*").cast("bigint").alias("n_total"))
    probes = local_frame(spark, [(t,) for t in CMS_PROBES], "token string")
    pcells = probes.select(
        "token",
        F.posexplode(
            F.array(*[c for c in _cmsp_cells(F.md5(F.col("token")))])
        ).alias("depth", "cell"),
    )
    est = (
        pcells.join(F.broadcast(counters), ["depth", "cell"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("est_count"))
    )
    return est.crossJoin(total).select("token", "est_count", "n_total").orderBy("token")


_CMSP_PROBE_VALUES = ", ".join(f"('{t}')" for t in CMS_PROBES)
_CMSP_CELL_SQL = " UNION ALL ".join(
    f"SELECT tok, {d} AS depth, CAST(concat('0x', substr(md, {1 + 7 * d}, 7)) AS BIGINT) % {CMSP_WIDTH} AS cell FROM hashed"
    for d in range(CMSP_DEPTH)
)
_CMSP_PCELL_SQL = " UNION ALL ".join(
    f"SELECT token, {d} AS depth, CAST(concat('0x', substr(md5(token), {1 + 7 * d}, 7)) AS BIGINT) % {CMSP_WIDTH} AS cell FROM probes"
    for d in range(CMSP_DEPTH)
)
ORACLES["sketch_cms_portable"] = f"""
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS tok
  FROM documents
),
hashed AS (SELECT tok, md5(tok) AS md FROM tok),
cells AS ({_CMSP_CELL_SQL}),
counters AS (SELECT depth, cell, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tok),
probes AS (SELECT * FROM (VALUES {_CMSP_PROBE_VALUES}) p(token)),
pcells AS ({_CMSP_PCELL_SQL}),
est AS (
  SELECT token, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est_count
  FROM pcells LEFT JOIN counters USING (depth, cell) GROUP BY token
)
SELECT token, est_count, n_total FROM est, total ORDER BY token
"""


QS_K = 512  # quantile-sample size; rank error ~ O(1/sqrt(K)) ≈ 4%


def sketch_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A34b — portable mergeable quantile sketch, completing the
    transparent-state quartet (KMV / HLL registers / CMS counters /
    THIS): the KLL keys stay rows-only (engine-internal bytes), but a
    bottom-K-by-hash ROW sample is the same mergeable contract with
    a plain-integer state — the K rows whose md5-60-bit row-identity
    hashes are smallest form a uniform sample; per-flag states MERGE
    by taking the K smallest of the union (the 'ALL' scope below is
    built from the per-flag KEPT SETS, never from the data — exactly
    how per-day sketches roll up to any grain for free at 100 TB).
    Quantiles = exact percentile over the K kept values; n is the
    sketch's exact row counter. Hash ties (60-bit collisions) break
    on value, so the kept set is deterministic at any scale.

    Scale shape: same two-stage salted bottom-K as sketch_kmv_setops
    — per (flag, h%16) cell first, then per flag over ≤16·K
    survivors; no task sorts more than its salt cell. Rank error ~
    1/√K (vs KLL's tighter bound at equal space — the price of a
    state DuckDB can replay bit-for-bit).
    Ref: bottom-k sampling per Cohen & Kaplan (2007); same estimator
    family as A33b."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        "l_returnflag",
        "l_extendedprice",
        md5_int(F.concat_ws(":", "l_orderkey", "l_linenumber"), 15).alias("h"),
    )
    w_salt = Window.partitionBy(
        "l_returnflag", F.pmod(F.col("h"), F.lit(16))
    ).orderBy("h", "l_extendedprice")
    stage1 = (
        keyed.withColumn("rn", F.row_number().over(w_salt))
        .filter(F.col("rn") <= QS_K)
        .drop("rn")
    )
    w_flag = Window.partitionBy("l_returnflag").orderBy("h", "l_extendedprice")
    # memoized persist (cachereg): the ≤2K-row kept set fans out to
    # per-flag and merged consumers; one released-on-hook entry per
    # (app, sf_dir) instead of a new pinned frame per invocation
    # (r7 advisor)
    kept = cachereg.memo(
        spark,
        "qs_kept",
        sf_dir,
        lambda: stage1.withColumn("rn", F.row_number().over(w_flag))
        .filter(F.col("rn") <= QS_K)
        .drop("rn"),
    )
    merged = (
        kept.select("l_extendedprice", "h")
        .orderBy("h", "l_extendedprice")
        .limit(QS_K)
    )

    # discrete (type-1) quantiles by exact rank selection — element at
    # rank CEIL(p·k) of the sorted kept values. NO interpolation: the
    # continuous percentile's (1−g)·a + g·b lands on half-cent
    # boundaries (prices are exact cents) where a one-ulp association
    # difference between engines flips the 2dp rounding (observed:
    # 79897.39 vs .38); rank selection has no float to disagree on.
    def _qsel(agg_src, scope_col):
        arr = F.array_sort(F.collect_list("l_extendedprice"))
        k = F.size(arr)
        sel = lambda p: F.element_at(arr, F.ceil(k * F.lit(p)).cast("int"))
        return agg_src.agg(
            F.count("*").cast("bigint").alias("k_kept"),
            F.round(sel(0.25), 2).alias("p25"),
            F.round(sel(0.50), 2).alias("p50"),
            F.round(sel(0.75), 2).alias("p75"),
        ).select(scope_col.alias("scope"), "k_kept", "p25", "p50", "p75")

    per_flag = _qsel(kept.groupBy("l_returnflag"), F.col("l_returnflag"))
    sketch = per_flag.unionByName(_qsel(merged, F.lit("ALL")))
    counts = (
        li.groupBy(F.col("l_returnflag").alias("scope"))
        .agg(F.count("*").alias("n"))
        .unionByName(li.agg(F.count("*").alias("n")).select(F.lit("ALL").alias("scope"), "n"))
    )
    out = counts.join(sketch, "scope").select(
        "scope",
        F.col("n").cast("bigint").alias("n"),
        F.lit(QS_K).cast("bigint").alias("k"),
        "k_kept",
        "p25",
        "p50",
        "p75",
    )
    return out.orderBy("scope")


ORACLES["sketch_sample_quantiles"] = f"""
WITH keyed AS (
  SELECT l_returnflag, l_extendedprice,
         {md5_int_sql("concat(l_orderkey, ':', l_linenumber)", 15)} AS h
  FROM lineitem
),
kept AS (
  SELECT l_returnflag, l_extendedprice, h FROM (
    SELECT l_returnflag, l_extendedprice, h,
           row_number() OVER (PARTITION BY l_returnflag
                ORDER BY h, l_extendedprice) AS rn
    FROM keyed
  ) WHERE rn <= {QS_K}
),
merged AS (
  SELECT l_extendedprice FROM kept ORDER BY h, l_extendedprice LIMIT {QS_K}
),
sketch AS (
  SELECT l_returnflag AS scope, CAST(COUNT(*) AS BIGINT) AS k_kept,
         ROUND((list(l_extendedprice ORDER BY l_extendedprice))[CAST(ceil(COUNT(*) * 0.25) AS INT)], 2) AS p25,
         ROUND((list(l_extendedprice ORDER BY l_extendedprice))[CAST(ceil(COUNT(*) * 0.50) AS INT)], 2) AS p50,
         ROUND((list(l_extendedprice ORDER BY l_extendedprice))[CAST(ceil(COUNT(*) * 0.75) AS INT)], 2) AS p75
  FROM kept GROUP BY 1
  UNION ALL
  SELECT 'ALL', CAST(COUNT(*) AS BIGINT),
         ROUND((list(l_extendedprice ORDER BY l_extendedprice))[CAST(ceil(COUNT(*) * 0.25) AS INT)], 2),
         ROUND((list(l_extendedprice ORDER BY l_extendedprice))[CAST(ceil(COUNT(*) * 0.50) AS INT)], 2),
         ROUND((list(l_extendedprice ORDER BY l_extendedprice))[CAST(ceil(COUNT(*) * 0.75) AS INT)], 2)
  FROM merged
),
counts AS (
  SELECT l_returnflag AS scope, COUNT(*) AS n FROM lineitem GROUP BY 1
  UNION ALL
  SELECT 'ALL', COUNT(*) FROM lineitem
)
SELECT c.scope, CAST(c.n AS BIGINT) AS n, CAST({QS_K} AS BIGINT) AS k,
       s.k_kept, s.p25, s.p50, s.p75
FROM counts c JOIN sketch s ON s.scope = c.scope
ORDER BY c.scope
"""


QUERIES = {
    "sketch_theta_setops": sketch_theta_setops,
    "sketch_count_min_tokens": sketch_count_min_tokens,
    "sketch_kll_quantiles": sketch_kll_quantiles,
    "sketch_hll_rollup": sketch_hll_rollup,
    "sketch_kmv_setops": sketch_kmv_setops,
    "sketch_hll_portable": sketch_hll_portable,
    "sketch_cms_portable": sketch_cms_portable,
    "sketch_sample_quantiles": sketch_sample_quantiles,
}
