"""Deterministic sampling / splitting (training-data pipeline staple).

Splits must be REPRODUCIBLE across runs, engines, and cluster sizes —
``rand()`` is none of those. Assignment here is pure arithmetic on
the key (an LCG step mod 100), so any engine computes the same split
and late-arriving rows land deterministically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from proceso_de_etl_spark.functions.hashing import md5_int, md5_int_sql
from proceso_de_etl_spark.operators.windows import ranked_topk
from proceso_de_etl_spark.sources.catalog import load_table

ORACLES: dict[str, str] = {}

TRAIN_PCT = 80


def split_bucket(key: Column) -> Column:
    """Deterministic 0-99 bucket from an integer key (LCG step —
    engine-portable integer arithmetic, no hash builtin needed).

    The key is reduced mod 100 BEFORE the multiply: (key%100)*A+B
    is ≤ ~1.1e11, provably inside 63 bits for ANY bigint key, and
    yields the identical bucket ((key*A + B) mod 100 depends only on
    key mod 100) — without the reduction, keys above ~8.4e9 overflow
    the multiply, which in ANSI mode (the default get_spark keeps)
    raises ARITHMETIC_OVERFLOW and fails the query, while engines
    that wrap or widen instead would split differently."""
    return (((key % 100) * F.lit(1103515245) + F.lit(12345)) % 100).cast("bigint")


def assign_split(df: DataFrame, key: str, train_pct: int = TRAIN_PCT) -> DataFrame:
    return df.withColumn(
        "split",
        F.when(split_bucket(F.col(key)) < train_pct, "train").otherwise("holdout"),
    )


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified train/holdout accounting per language: deterministic
    assignment, aggregated so the split proportions are auditable."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        assign_split(docs, "doc_id")
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars"))
    )


ORACLES["sample_stratified"] = f"""
SELECT lang,
       CASE WHEN ((doc_id % 100) * 1103515245 + 12345) % 100 < {TRAIN_PCT}
            THEN 'train' ELSE 'holdout' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM documents
GROUP BY 1, 2
"""

SOURCE_CAP = 20  # max docs kept per source


def sample_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (per-domain) capping — the corpus-balancing step
    that stops one crawl domain from dominating the training mix:
    keep at most SOURCE_CAP docs per source, preferring longer
    documents, ties to the lower doc_id (total order → deterministic
    keep set on any engine). One window over a shuffle keyed by
    source; output is the per-source kept/dropped accounting.

    Scale: the rank window partitions by source — the same key the
    data must group by anyway; no global sort, no driver state. A
    pathologically hot source is exactly what AQE skew-split handles
    (and what the cap then throws away)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = docs.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.sum(F.when(F.col("rk") <= SOURCE_CAP, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("rk") > SOURCE_CAP, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        F.sum(
            F.when(F.col("rk") <= SOURCE_CAP, F.col("n_chars")).otherwise(0)
        ).cast("bigint").alias("kept_chars"),
    )


ORACLES["sample_cap_per_source"] = f"""
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents
)
SELECT source,
       CAST(SUM(CASE WHEN rk <= {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rk > {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN rk <= {SOURCE_CAP} THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM ranked
GROUP BY source
"""


# hex-bucket upper bounds over substr(md5, 1, 2): 256 lexicographic
# buckets; 'cc' = 204/256 ≈ 79.7% train, 'e6' = 230/256 ≈ 89.8% → val
# ≈ 10.2%, test ≈ 10.2%
SPLIT_TRAIN_BOUND = "cc"
SPLIT_VAL_BOUND = "e6"


def sample_split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed train/val/test split: bucket
    by a hash of the KEY, not ``rand()`` — the split a training
    pipeline can reproduce across runs, engines, and repartitioning
    (a rand() split silently reshuffles docs between train and eval
    whenever partitioning changes; a hash split never does, which is
    what keeps eval sets uncontaminated over months of reruns).
    Narrow projection, zero shuffle, zero RNG; md5 hex compares
    lexicographically the same in any engine."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(bucket < SPLIT_TRAIN_BOUND, "train")
        .when(bucket < SPLIT_VAL_BOUND, "val")
        .otherwise("test")
    )
    return docs.select("doc_id", bucket.alias("hash_bucket"), split.alias("split"))


ORACLES["sample_split_train_eval"] = f"""
SELECT doc_id,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hash_bucket,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{SPLIT_TRAIN_BOUND}' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{SPLIT_VAL_BOUND}' THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (algorithm A-ES, Efraimidis &
    Spirakis): each doc gets priority u^(1/w); the top-k priorities
    are the weighted sample. For INTEGER weights u^(1/w) is
    distributed as the max of w independent uniforms, so the priority
    here is the MAX of w salted md5 draws — an md5 hex string, whose
    lexicographic max/top-k is bit-exact in every engine, no float
    pow/ln parity risk. Weight = 1..5 by document length (longer docs
    sampled more). Distributed shape: one bounded explode (≤5×), one
    partial-aggregated max, one top-k — no RNG, no driver state;
    rerunning on any partitioning returns the identical sample, which
    is what makes a 100 TB corpus sample auditable."""
    docs = load_table(spark, sf_dir, "documents")
    weight = (
        F.lit(1) + F.least(F.lit(4), F.floor(F.col("n_chars") / F.lit(400.0)).cast("int"))
    ).alias("weight")
    drawn = docs.select("doc_id", weight).select(
        "doc_id",
        "weight",
        F.explode(F.sequence(F.lit(1), F.col("weight"))).alias("i"),
    )
    keyed = drawn.groupBy("doc_id", "weight").agg(
        F.max(F.md5(F.concat_ws(":", "doc_id", "i"))).alias("sample_key")
    )
    # top-k via TakeOrderedAndProject, NOT a global window: the old
    # row_number-over-ORDER-BY form moved one row per corpus document
    # through a single task (VERDICT r4). ranked_topk keeps each
    # partition's top-100 and ranks only the 100 survivors.
    return ranked_topk(
        keyed, [F.desc("sample_key"), F.asc("doc_id")], 100, rank_col="rk"
    ).select("rk", "doc_id", "weight", "sample_key")


ORACLES["sample_weighted_aes"] = """
WITH wdocs AS (
  SELECT doc_id,
         1 + LEAST(4, CAST(FLOOR(n_chars / 400.0) AS INT)) AS weight
  FROM documents
),
drawn AS (
  SELECT doc_id, weight, unnest(generate_series(1, weight)) AS i FROM wdocs
),
keyed AS (
  SELECT doc_id, weight, MAX(md5(concat_ws(':', doc_id, i))) AS sample_key
  FROM drawn GROUP BY doc_id, weight
)
SELECT CAST(row_number() OVER (ORDER BY sample_key DESC, doc_id ASC) AS BIGINT) AS rk,
       doc_id, weight, sample_key
FROM keyed
QUALIFY rk <= 100
"""


def sample_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T28 — deterministic mixture rebalancing: hit a TARGET
    per-source mixture (here: even-numbered sources weighted 2×) by
    computing each source's keep fraction from the live counts and
    downsampling with the LCG bucket — the "data mixing" step every
    training run does over its corpus, made reproducible: no RNG, no
    driver-side counts, and the same doc survives on any engine or
    partitioning. One plan: counts → 1-row weighted totals broadcast
    back → per-source keep fraction (quantized to /256 via floor —
    engine-exact) → md5-bucket filter.

    The bucket is the CONTENT hash (md5 prefix, as in T22), NOT the
    LCG of T16 — deliberately: this testdata assigns source by
    doc_id mod 20, and the LCG's multiplier (…45 mod 100) collapses
    every mod-20 residue class to ONE bucket value, so an LCG-based
    keep filter would keep 0% or 100% of a source instead of the
    target fraction. Any arithmetic-on-key bucket can resonate with
    structured keys like that; a cryptographic-hash bucket cannot.
    Output is the per-source audit: size, keep_256 (kept fraction ×
    256), kept."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    src_w = F.when(
        F.expr("CAST(substring(source, 4) AS INT)") % 2 == 0, F.lit(2.0)
    ).otherwise(F.lit(1.0))
    counts = docs.groupBy("source").agg(F.count("*").alias("n_source")).withColumn("w", src_w)
    tot = counts.agg(
        F.sum("n_source").cast("double").alias("n_total"), F.sum("w").alias("w_total")
    )
    pct = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "keep_256",
            F.floor(
                F.least(
                    F.lit(1.0),
                    (F.col("n_total") * F.col("w") / F.col("w_total")) / F.col("n_source"),
                )
                * 256
            ).cast("int"),
        )
        .select("source", "n_source", "keep_256")
    )
    md2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    keep = (F.col("keep_256") >= 256) | (
        md2 < F.lower(F.lpad(F.hex(F.col("keep_256")), 2, "0"))
    )
    return (
        docs.join(F.broadcast(pct), "source")
        .groupBy("source", "n_source", "keep_256")
        .agg(F.count(F.when(keep, 1)).alias("n_kept"))
        .orderBy("source")
    )


ORACLES["sample_mixture_rebalance"] = """
WITH counts AS (SELECT source, COUNT(*) AS n_source FROM documents GROUP BY source),
wtd AS (
  SELECT source, n_source,
         CASE WHEN CAST(SUBSTR(source, 4) AS INT) % 2 = 0 THEN 2.0 ELSE 1.0 END AS w
  FROM counts
),
tot AS (SELECT CAST(SUM(n_source) AS DOUBLE) AS n_total, SUM(w) AS w_total FROM wtd),
pct AS (
  SELECT source, n_source,
         CAST(FLOOR(LEAST(1.0, (n_total * w / w_total) / n_source) * 256) AS INT) AS keep_256
  FROM wtd CROSS JOIN tot
)
SELECT p.source, p.n_source, p.keep_256,
       COUNT(*) FILTER (
         WHERE p.keep_256 >= 256
            OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2)
             < lower(lpad(hex(p.keep_256), 2, '0'))
       ) AS n_kept
FROM documents d JOIN pct p ON d.source = p.source
GROUP BY 1, 2, 3
ORDER BY p.source
"""


PACK_BUDGET_TOKENS = 512


def sample_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T41 — contiguous sequence packing: assign whole documents to
    fixed token-budget bins (the batch-assembly step before training;
    Raffel et al. 2020's "packing"). True first-fit bin packing is
    inherently sequential; the scalable deterministic variant packs
    CONTIGUOUSLY in (source, doc_id) order — a doc opens in the bin
    where its running token count starts, so bins can overflow by at
    most one document (reported as fill_frac > 1) and the assignment
    is a pure per-source cumsum window: one shuffle on source, no
    driver loop, identical on any engine/partitioning. Output is the
    per-bin manifest a loader would consume: doc span, token total,
    fill fraction vs budget."""
    from proceso_de_etl_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "source", "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    binned = counted.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "bin", ((F.col("cum") - F.col("n_tokens")) / PACK_BUDGET_TOKENS).cast("bigint")
    )
    return binned.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        F.round(F.sum("n_tokens") / F.lit(PACK_BUDGET_TOKENS), 6).alias("fill_frac"),
    )


ORACLES["sample_pack_sequences"] = f"""
WITH counted AS (
  SELECT source, doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
binned AS (
  SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM counted
)
SELECT source,
       CAST(FLOOR((cum - n_tokens) / {PACK_BUDGET_TOKENS}) AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       ROUND(SUM(n_tokens) / {PACK_BUDGET_TOKENS}.0, 6) AS fill_frac
FROM binned
GROUP BY source, CAST(FLOOR((cum - n_tokens) / {PACK_BUDGET_TOKENS}) AS BIGINT)
"""


def sample_group_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T48 — leakage-safe train/val/test split: bucket by a hash of
    the DUPLICATE-GROUP key (md5 of the text), not the doc id, so
    every copy of a duplicated document lands in the same split.
    Splitting by doc id (sample_split_train_eval) leaks eval content
    into train whenever the corpus contains duplicates — the classic
    contamination bug benchmark-decontam (T19/T26) then has to catch
    downstream; group-aware assignment prevents it at the split.

    Emits per-split doc/group counts plus ``n_leaky_groups`` — the
    number of groups straddling >1 split — computed, not assumed, so
    a regression in the keying shows up as a nonzero value, and the
    invariant is part of the oracle-checked contract. Scale shape:
    one scan-side md5, two hash aggregations keyed on the group hash;
    the leak check reuses the same shuffle key. For near-dup (rather
    than exact) leakage, swap the group key for the connected-
    component id (T4b) — same plan downstream."""
    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.select(
        "doc_id", F.md5("text").alias("gk")
    ).withColumn(
        "split",
        F.when(F.substring(F.md5("gk"), 1, 2) < SPLIT_TRAIN_BOUND, "train")
        .when(F.substring(F.md5("gk"), 1, 2) < SPLIT_VAL_BOUND, "val")
        .otherwise("test"),
    )
    per_split = assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"), F.countDistinct("gk").alias("n_groups")
    )
    leaky = (
        assigned.groupBy("gk")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count("*").alias("n_leaky_groups"))
    )
    return per_split.join(F.broadcast(leaky)).orderBy("split")


ORACLES["sample_group_aware_split"] = f"""
WITH assigned AS (
  SELECT doc_id, md5(text) AS gk,
         CASE WHEN substr(md5(md5(text)), 1, 2) < '{SPLIT_TRAIN_BOUND}' THEN 'train'
              WHEN substr(md5(md5(text)), 1, 2) < '{SPLIT_VAL_BOUND}' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
per_split AS (
  SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT gk) AS n_groups
  FROM assigned GROUP BY 1
),
leaky AS (
  SELECT COUNT(*) AS n_leaky_groups FROM (
    SELECT gk FROM assigned GROUP BY gk HAVING COUNT(DISTINCT split) > 1
  )
)
SELECT split, n_docs, n_groups, n_leaky_groups
FROM per_split CROSS JOIN leaky
ORDER BY split
"""


MIX_TOKEN_BUDGET = 200_000  # target training tokens
MIX_MAX_EPOCHS = 4.0  # repetition cap per source


def sample_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T59 — mixture repetition budgeting (the "how many epochs of
    each source" plan from LLM data-mixing practice): given measured
    per-source token counts, a total token budget, and a UNIFORM
    target mixture, compute each source's required repetition factor
    (epochs), cap it (over-repeating a small source degrades models
    faster than under-weighting it), and report the EFFECTIVE tokens
    and realized mixture share after the cap — so the gap between
    target and realized mixture is explicit data, not a surprise at
    training time. One scan for the token census (the fact-scale
    work); the plan arithmetic runs on the n_sources-row aggregate.
    Consumes the same census T51's datasheet publishes; T22's
    mixture REBALANCING down-samples to hit a mixture exactly —
    this op plans UP-sampling under a repetition cap."""
    docs = load_table(spark, sf_dir, "documents")
    from proceso_de_etl_spark.functions.text import tokens

    census = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("bigint").alias("n_tokens")
    )
    n_sources = census.agg(F.count("*").alias("k"))
    planned = (
        census.join(F.broadcast(n_sources))
        .withColumn("target_tokens", F.lit(float(MIX_TOKEN_BUDGET)) / F.col("k"))
        .withColumn(
            "epochs_needed",
            F.round(F.col("target_tokens") / F.col("n_tokens"), 4),
        )
        .withColumn(
            "epochs", F.round(F.least(F.col("epochs_needed"), F.lit(MIX_MAX_EPOCHS)), 4)
        )
        .withColumn(
            "effective_tokens",
            F.round(F.col("epochs") * F.col("n_tokens"), 2),
        )
    )
    total_eff = planned.agg(F.sum("effective_tokens").alias("tot"))
    return (
        planned.join(F.broadcast(total_eff))
        .select(
            "source",
            "n_tokens",
            "epochs_needed",
            "epochs",
            "effective_tokens",
            F.round(F.col("effective_tokens") / F.col("tot"), 6).alias("realized_share"),
            (F.col("epochs_needed") > F.lit(MIX_MAX_EPOCHS)).alias("capped"),
        )
        .orderBy("source")
    )


from proceso_de_etl_spark.functions.text import tokens_sql as _tokens_sql

ORACLES["sample_mixture_epochs"] = f"""
WITH census AS (
  SELECT source, CAST(SUM(len({_tokens_sql("text")})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
k AS (SELECT COUNT(*) AS k FROM census),
planned AS (
  SELECT source, n_tokens,
         {float(MIX_TOKEN_BUDGET)} / k AS target_tokens,
         ROUND({float(MIX_TOKEN_BUDGET)} / k / n_tokens, 4) AS epochs_needed,
         ROUND(LEAST(ROUND({float(MIX_TOKEN_BUDGET)} / k / n_tokens, 4), {MIX_MAX_EPOCHS}), 4) AS epochs
  FROM census CROSS JOIN k
),
eff AS (
  SELECT *, ROUND(epochs * n_tokens, 2) AS effective_tokens FROM planned
),
tot AS (SELECT SUM(effective_tokens) AS tot FROM eff)
SELECT source, n_tokens, epochs_needed, epochs, effective_tokens,
       ROUND(effective_tokens / tot, 6) AS realized_share,
       epochs_needed > {MIX_MAX_EPOCHS} AS capped
FROM eff CROSS JOIN tot
ORDER BY source
"""


DSIR_DIM = 64
DSIR_TARGET_LANG = "en"


def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T61 — DSIR-style importance weighting (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every document by how target-like its hashed-n-gram
    profile is, where the target distribution is estimated from the
    in-corpus English slice and the raw distribution from the whole
    corpus. log w(doc) = Σ_tokens [ln p_target(bucket) −
    ln p_raw(bucket)] with add-one smoothing over the D hashed
    buckets.

    Distributed shape: ONE token explode feeds both distribution
    estimates (D-row aggregates — D=64 is a constant, so the
    bucket→log-ratio table broadcasts) and the scoring join; no
    vocabulary is ever collected. The hash is the md5-prefix bucket
    (text_analysis.text_hashed_tf note: bit-identical across
    engines, swap xxhash64 for production). Per-token ln routes
    through a DECIMAL(18,12) accumulator so per-doc sums are
    order-independent; 4dp edge rounding absorbs ln's last-ulp
    engine difference (the T23 discipline). `keep` marks docs whose
    profile is more target- than raw-like — the resampling
    acceptance core."""
    from proceso_de_etl_spark.functions.columns import dsum
    from proceso_de_etl_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    ).select(
        "doc_id",
        "lang",
        (md5_int(F.col("tok"), 8) % DSIR_DIM).cast("int").alias("bucket"),
    )
    raw = tok.groupBy("bucket").agg(F.count("*").alias("c_raw"))
    tgt = (
        tok.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count("*").alias("c_tgt"))
    )
    totals = tok.agg(
        F.count("*").alias("n_raw"),
        F.count(F.when(F.col("lang") == DSIR_TARGET_LANG, 1)).alias("n_tgt"),
    )
    ratio = (
        raw.join(tgt, "bucket", "left")
        .na.fill({"c_tgt": 0})
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.col("c_tgt") + 1) / (F.col("n_tgt") + DSIR_DIM))
                - F.log((F.col("c_raw") + 1) / (F.col("n_raw") + DSIR_DIM))
            ).alias("log_ratio"),
        )
    )
    scored = tok.join(F.broadcast(ratio), "bucket").groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        # + 0.0 normalizes IEEE negative zero: a sum rounding to -0.0
        # reprs differently from 0.0 (observed at sf0.1) though the
        # values compare equal; both engines apply the same fix-up
        (F.round(dsum(F.col("log_ratio"), 12), 4) + 0.0).alias("log_weight"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "log_weight",
        (F.col("log_weight") > 0).alias("keep"),
    )


from proceso_de_etl_spark.functions.text import tokens_sql as _toks_sql_dsir  # noqa: E402

ORACLES["sample_importance_dsir"] = f"""
WITH tok AS (
  SELECT doc_id, lang,
         CAST({md5_int_sql("t.tok", 8)} % {DSIR_DIM} AS INT) AS bucket
  FROM documents, unnest({_toks_sql_dsir("text")}) AS t(tok)
),
raw AS (SELECT bucket, COUNT(*) AS c_raw FROM tok GROUP BY 1),
tgt AS (SELECT bucket, COUNT(*) AS c_tgt FROM tok WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1),
totals AS (
  SELECT COUNT(*) AS n_raw,
         COUNT(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 END) AS n_tgt
  FROM tok
),
ratio AS (
  SELECT raw.bucket,
         ln((COALESCE(c_tgt, 0) + 1) / CAST(n_tgt + {DSIR_DIM} AS DOUBLE))
         - ln((c_raw + 1) / CAST(n_raw + {DSIR_DIM} AS DOUBLE)) AS log_ratio
  FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket CROSS JOIN totals
),
scored AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         ROUND(CAST(SUM(CAST(log_ratio AS DECIMAL(18,12))) AS DOUBLE), 4) + 0.0 AS log_weight
  FROM tok JOIN ratio ON tok.bucket = ratio.bucket
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, log_weight, log_weight > 0 AS keep FROM scored
"""


def sample_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T66 — soft dedup: instead of DELETING exact duplicates (T1),
    keep every copy but down-weight it to 1/|duplicate group| so the
    group contributes exactly one document's worth of training mass
    (the SoftDeDup idea — removal loses within-group variation e.g.
    in metadata; reweighting preserves it while fixing the
    over-representation). One content-hash groupBy + one same-key
    join; Σ weights = #unique contents by construction (the
    effective corpus size a loss-masking trainer sees). Weights
    divide exact integer counts, 6dp."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select("doc_id", F.md5(F.col("text")).alias("h"))
    groups = hashed.groupBy("h").agg(F.count("*").alias("n_copies"))
    weighted = hashed.join(groups, "h").select(
        "doc_id",
        "n_copies",
        F.round(1.0 / F.col("n_copies"), 6).alias("weight"),
    )
    return weighted.orderBy("doc_id")


ORACLES["sample_softdedup_weights"] = """
WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
groups AS (SELECT h, COUNT(*) AS n_copies FROM hashed GROUP BY 1)
SELECT doc_id, n_copies, ROUND(CAST(1.0 AS DOUBLE) / n_copies, 6) AS weight
FROM hashed JOIN groups USING (h)
"""


MIX_TEMPERATURE = 0.7


def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T70 — temperature-based language re-balancing (the XLM-R /
    UNIMAX multilingual mixing rule): sampling share qₗ ∝ pₗ^α with
    α = 0.7 flattens the language distribution — high-resource
    languages are down-weighted, low-resource ones up-sampled —
    without the hard equal-share cliff. Reports, per language: raw
    share p, temperature share q, the token... doc budget that share
    buys at constant corpus size, and the implied epochs
    (budget/nₗ — >1 means the language repeats, the quantity T59's
    repetition budget then caps). One grouped count + a 1-row
    broadcast fold; pow's last ulp is absorbed by 6dp rounding
    BEFORE the budget multiply (both engines derive the budget from
    the identical rounded q), and floor keeps the budget integer
    rule half-point-free."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").cast("double").alias("n_total"),
    )
    powed = counts.crossJoin(F.broadcast(tot)).withColumn(
        "p_pow", F.pow(F.col("n_docs") / F.col("n_total"), MIX_TEMPERATURE)
    )
    # z accumulates in DECIMAL(18,12): a parallel double sum is
    # order-dependent and its ulp could flip the 6dp q rounding
    z = powed.agg(
        F.sum(F.col("p_pow").cast("decimal(18,12)")).cast("double").alias("z")
    )
    q6 = F.round(F.col("p_pow") / F.col("z"), 6)
    return (
        powed.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("n_docs") / F.col("n_total"), 6).alias("p_raw"),
            q6.alias("q_temp"),
            F.floor(q6 * F.col("n_total")).cast("bigint").alias("doc_budget"),
            F.round(
                F.floor(q6 * F.col("n_total")) / F.col("n_docs"), 4
            ).alias("epochs"),
        )
    )


ORACLES["sample_temperature_mix"] = f"""
WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
tot AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS n_total FROM counts),
powed AS (
  SELECT lang, n_docs, n_total,
         POW(n_docs / n_total, {MIX_TEMPERATURE}) AS p_pow
  FROM counts CROSS JOIN tot
),
z AS (SELECT CAST(SUM(CAST(p_pow AS DECIMAL(18,12))) AS DOUBLE) AS z FROM powed)
SELECT lang, n_docs,
       ROUND(n_docs / n_total, 6) AS p_raw,
       ROUND(p_pow / z, 6) AS q_temp,
       CAST(FLOOR(ROUND(p_pow / z, 6) * n_total) AS BIGINT) AS doc_budget,
       ROUND(FLOOR(ROUND(p_pow / z, 6) * n_total) / n_docs, 4) AS epochs
FROM powed CROSS JOIN z
"""


QUERIES = {
    "sample_temperature_mix": sample_temperature_mix,
    "sample_softdedup_weights": sample_softdedup_weights,
    "sample_importance_dsir": sample_importance_dsir,
    "sample_stratified": sample_stratified,
    "sample_pack_sequences": sample_pack_sequences,
    "sample_cap_per_source": sample_cap_per_source,
    "sample_split_train_eval": sample_split_train_eval,
    "sample_weighted_aes": sample_weighted_aes,
    "sample_mixture_rebalance": sample_mixture_rebalance,
    "sample_group_aware_split": sample_group_aware_split,
    "sample_mixture_epochs": sample_mixture_epochs,
}
