"""Text-analysis operators over ``documents`` (SURVEY.md §2.3
T8-T11): language ID, quality scoring, token counting, document
fingerprinting. All pure column expressions — these run inside
whole-stage codegen, one scan, no shuffle except final aggregation;
at 100 TB they are scan-bound, which is the best case.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from proceso_de_etl_spark.functions.text import (
    BPE_ISH_PATTERN,
    CJK_PATTERN,
    STOPWORDS,
    nonalnum_count,
    shingles,
    shingles_sql,
    stop_hits,
    stop_hits_sql,
    tokens,
    tokens_sql,
)
from proceso_de_etl_spark.functions.columns import dsum
from proceso_de_etl_spark.functions.hashing import md5_int, md5_int_sql
from proceso_de_etl_spark.operators.windows import ranked_topk
from proceso_de_etl_spark.sources.catalog import load_table
from proceso_de_etl_spark.sources.local import local_frame

ORACLES: dict[str, str] = {}

_TOKS_SQL = tokens_sql("text")


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 — stopword/char-class language scoring with a deterministic
    priority-ordered argmax (en > es > fr > de > zh on ties)."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize the token array once (projection boundary) — see
    # dedup._doc_shingles for why inlining re-runs the regex split
    staged = docs.select("doc_id", "lang", "text", tokens(F.col("text")).alias("toks"))
    t = F.col("toks")
    scored = staged.select(
        "doc_id",
        "lang",
        *[stop_hits(t, ws).cast("bigint").alias(f"s_{lang}") for lang, ws in STOPWORDS.items()],
        F.regexp_count(F.col("text"), F.lit(CJK_PATTERN)).cast("bigint").alias("s_zh"),
    )
    s = {k: F.col(f"s_{k}") for k in ("en", "es", "fr", "de", "zh")}
    pred = (
        F.when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["de"]) & (s["en"] >= s["zh"]), "en")
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["de"]) & (s["es"] >= s["zh"]), "es")
        .when((s["fr"] >= s["de"]) & (s["fr"] >= s["zh"]), "fr")
        .when(s["de"] >= s["zh"], "de")
        .otherwise("zh")
    )
    return scored.withColumn("predicted_lang", pred)


_SCORES_SQL = ",\n       ".join(
    f"CAST({stop_hits_sql(_TOKS_SQL, ws)} AS BIGINT) AS s_{lang}"
    for lang, ws in STOPWORDS.items()
)
ORACLES["text_lang_id"] = f"""
WITH scored AS (
  SELECT doc_id, lang,
       {_SCORES_SQL},
       CAST(len(regexp_extract_all(text, '{CJK_PATTERN}')) AS BIGINT) AS s_zh
  FROM documents
)
SELECT *,
       CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh THEN 'en'
            WHEN s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh THEN 'es'
            WHEN s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
            WHEN s_de >= s_zh THEN 'de'
            ELSE 'zh' END AS predicted_lang
FROM scored
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 — heuristic quality score: length saturation, punctuation
    ratio, stopword density; one deterministic double in [0,1]."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens(F.col("text")).alias("toks")
    )
    t = F.col("toks")
    n_chars = F.length("text").cast("double")
    n_tokens = F.size(t).cast("double")
    punct = nonalnum_count(F.col("text")).cast("double")
    stops = stop_hits(t, STOPWORDS["en"]).cast("double")
    punct_ratio = punct / F.greatest(n_chars, F.lit(1.0))
    stop_ratio = stops / F.greatest(n_tokens, F.lit(1.0))
    len_sat = F.least(n_tokens / 64.0, F.lit(1.0))
    score = 0.4 * len_sat + 0.3 * (1.0 - punct_ratio) + 0.3 * F.least(
        stop_ratio * 4.0, F.lit(1.0)
    )
    return docs.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


_STOPS_EN_SQL = stop_hits_sql(_TOKS_SQL, STOPWORDS["en"])
ORACLES["text_quality_score"] = f"""
WITH base AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len({_TOKS_SQL}) AS DOUBLE) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) AS punct,
         CAST({_STOPS_EN_SQL} AS DOUBLE) AS stops
  FROM documents
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(punct / greatest(n_chars, 1.0), 6) AS punct_ratio,
       ROUND(stops / greatest(n_tokens, 1.0), 6) AS stop_ratio,
       ROUND(0.4 * least(n_tokens / 64.0, 1.0)
           + 0.3 * (1.0 - punct / greatest(n_chars, 1.0))
           + 0.3 * least(stops / greatest(n_tokens, 1.0) * 4.0, 1.0), 6) AS quality_score
FROM base
"""


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 — whitespace token count + a BPE-ish regex unit count
    (letter runs / single digits / punctuation marks), the standard
    cheap token estimator for budget planning."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("ws_tokens"),
        F.regexp_count(F.lower("text"), F.lit(BPE_ISH_PATTERN)).cast("bigint").alias("bpe_ish_tokens"),
    )


ORACLES["text_token_count"] = f"""
SELECT doc_id,
       CAST(len({_TOKS_SQL}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{BPE_ISH_PATTERN}')) AS BIGINT) AS bpe_ish_tokens
FROM documents
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11 — shingle-hash document fingerprint: md5 over 3-gram
    shingles, sketched as (count, lexicographic min, max). md5 hex is
    engine-portable; the min/max pair is the 2-sketch of the hash
    set — the same construction minhash extends to k perms."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", tokens(F.col("text")).alias("toks")).select(
        "doc_id", shingles(F.col("toks")).alias("sh")
    )
    hashes = F.transform(F.col("sh"), lambda s: F.md5(s))
    return staged.select(
        "doc_id",
        F.size(F.array_distinct(F.col("sh"))).cast("bigint").alias("n_shingles"),
        F.array_min(hashes).alias("fp_min"),
        F.array_max(hashes).alias("fp_max"),
    )


_SH_SQL = shingles_sql(_TOKS_SQL)
ORACLES["text_fingerprint"] = f"""
SELECT doc_id,
       CAST(len(list_distinct({_SH_SQL})) AS BIGINT) AS n_shingles,
       list_min(list_transform({_SH_SQL}, s -> md5(s))) AS fp_min,
       list_max(list_transform({_SH_SQL}, s -> md5(s))) AS fp_max
FROM documents
"""

def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-50 tokens by frequency with
    document frequency — the vocabulary table every tokenizer build
    starts from. One explode + two-level aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    stats = tok.groupBy("tok").agg(
        F.count("*").alias("term_count"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    # top-k via TakeOrderedAndProject, NOT a global window: the term
    # table is vocabulary-sized (10^8+ distinct tokens on a web
    # corpus) and the old global row_number funneled all of it
    # through one task (VERDICT r4).
    return ranked_topk(stats, [F.desc("term_count"), F.asc("tok")], 50).select(
        "rank", "tok", "term_count", "doc_freq"
    )


ORACLES["text_vocab_topk"] = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
stats AS (
  SELECT tok, COUNT(*) AS term_count, COUNT(DISTINCT doc_id) AS doc_freq
  FROM tok GROUP BY tok
)
SELECT CAST(row_number() OVER (ORDER BY term_count DESC, tok ASC) AS BIGINT) AS rank,
       tok, term_count, doc_freq
FROM stats
QUALIFY rank <= 50
"""


ZIPF_RANKS = (1, 2, 4, 8, 16, 32, 64)
ZIPF_SCALE = 10**6


def text_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T72 — Zipf rank-frequency profile WITHOUT logarithms (r8): the
    corpus-law diagnostic every tokenizer/mixture decision glances
    at, expressed so both engines compute identical integers. At the
    doubling ranks r ∈ {1,2,4,…,64}, report the term, its frequency,
    and the DOUBLING-DECAY ratio freq(2r)·SCALE div freq(r) — under
    a Zipf law freq ∝ r^−s the ratio is flat at ≈2^−s·SCALE, so the
    profile reads the exponent (and its deviation from power-law)
    straight off integer division, with none of the cross-engine
    last-ulp ln() exposure a log-log OLS would put on every sum
    (T64's novelty curve already covers the Heaps/vocab-growth half
    of the corpus laws). Ranks come from the vocabulary-sized
    aggregate via TakeOrderedAndProject at 2·64 rows (the T14
    discipline — no global window); ties break by term asc. A corpus
    with fewer than 2r distinct terms yields NULL ratios on both
    engines (left join)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    stats = tok.groupBy("tok").agg(F.count("*").cast("bigint").alias("freq"))
    top = ranked_topk(
        stats, [F.desc("freq"), F.asc("tok")], 2 * max(ZIPF_RANKS)
    ).select("rank", "tok", "freq")
    at = top.filter(F.col("rank").isin(list(ZIPF_RANKS)))
    dbl = (
        top.filter(F.col("rank") % 2 == 0)
        .select(
            F.expr("rank div 2").alias("rank"), F.col("freq").alias("freq2")
        )
        .filter(F.col("rank").isin(list(ZIPF_RANKS)))
    )
    return at.join(dbl, "rank", "left").select(
        "rank",
        "tok",
        "freq",
        F.expr(f"(freq2 * CAST({ZIPF_SCALE} AS BIGINT)) div freq").alias(
            "double_ratio_scaled"
        ),
    )


ORACLES["text_zipf_profile"] = f"""
WITH tok AS (SELECT unnest({_TOKS_SQL}) AS tok FROM documents),
stats AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY tok),
top AS (
  SELECT CAST(row_number() OVER (ORDER BY freq DESC, tok ASC) AS BIGINT) AS rank,
         tok, freq
  FROM stats QUALIFY rank <= {2 * max(ZIPF_RANKS)}
),
at AS (SELECT * FROM top WHERE rank IN {ZIPF_RANKS}),
dbl AS (SELECT rank // 2 AS rank, freq AS freq2 FROM top
        WHERE rank % 2 = 0 AND rank // 2 IN {ZIPF_RANKS})
SELECT a.rank, a.tok, a.freq,
       (d.freq2 * {ZIPF_SCALE}) // a.freq AS double_ratio_scaled
FROM at a LEFT JOIN dbl d ON d.rank = a.rank
"""


def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: tf = term_count/doc_len, idf = ln((N+1)/(df+1));
    top-3 terms per document by score. All double arithmetic is
    bit-identical cross-engine except ln's last ulp, absorbed by the
    6dp rounding; ranking ties break on the term itself."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    n = tok.agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    doc_len = tok.groupBy("doc_id").agg(F.count("*").alias("len"))
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    from pyspark.sql import Window as W

    scored = (
        tf.join(doc_len, "doc_id")
        .join(df_, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            (F.col("c") / F.col("len"))
            * F.log((F.col("n_docs") + 1.0) / (F.col("df").cast("double") + 1.0)),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "rk", "tok", F.round("tfidf", 6).alias("tfidf"))
    )


ORACLES["text_tfidf_topterms"] = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok),
doc_len AS (SELECT doc_id, COUNT(*) AS len FROM tok GROUP BY doc_id),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
scored AS (
  SELECT tf.doc_id, tf.tok,
         (CAST(c AS DOUBLE) / len)
         * ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)) AS tfidf
  FROM tf JOIN doc_len ON tf.doc_id = doc_len.doc_id
       JOIN df ON tf.tok = df.tok CROSS JOIN n
)
SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS BIGINT) AS rk,
       tok, ROUND(tfidf, 6) AS tfidf
FROM scored
QUALIFY rk <= 3
"""


def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition score: 1 - distinct/total shingles — high values
    flag boilerplate/spam (a standard corpus-quality dimension)."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", tokens(F.col("text")).alias("toks")).select(
        "doc_id", shingles(F.col("toks")).alias("sh")
    )
    total = F.size("sh").cast("double")
    distinct = F.size(F.array_distinct("sh")).cast("double")
    return staged.select(
        "doc_id",
        total.cast("bigint").alias("n_shingles"),
        F.round(
            F.when(total > 0, 1.0 - distinct / total).otherwise(F.lit(0.0)), 6
        ).alias("repetition_ratio"),
    )


ORACLES["text_repetition_ratio"] = f"""
WITH s AS (SELECT doc_id, {_SH_SQL} AS sh FROM documents)
SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
       ROUND(CASE WHEN len(sh) > 0
                  THEN 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)
                  ELSE 0.0 END, 6) AS repetition_ratio
FROM s
"""

POSITIVE_WORDS = ("fast", "small", "value", "big")
NEGATIVE_WORDS = ("slow", "dup", "error")


def text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based opinion classification — the analytical purpose
    of the reference's star schema (its Clasificaciones dimension:
    Positiva/Neutra/Negativa). Positive/negative marker counts →
    polarity score → three-way classification, then the dimension
    rollup a BI user would run."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", "source", tokens(F.col("text")).alias("toks"))
    pos = stop_hits(F.col("toks"), POSITIVE_WORDS).cast("double")
    neg = stop_hits(F.col("toks"), NEGATIVE_WORDS).cast("double")
    polarity = (pos - neg) / F.greatest(pos + neg, F.lit(1.0))
    clasif = (
        F.when(polarity > 0.2, "Positiva")
        .when(polarity < -0.2, "Negativa")
        .otherwise("Neutra")
    )
    return (
        # polarity stays unrounded into the average (rounding only at
        # the output edge — pre-agg rounding would skew the mean)
        staged.select("doc_id", "source", polarity.alias("polarity"), clasif.alias("clasificacion"))
        .groupBy("source", "clasificacion")
        .agg(F.count("*").alias("n_opiniones"), F.round(F.avg("polarity"), 6).alias("avg_polarity"))
    )


_POS_SQL = stop_hits_sql(_TOKS_SQL, POSITIVE_WORDS)
_NEG_SQL = stop_hits_sql(_TOKS_SQL, NEGATIVE_WORDS)
ORACLES["text_sentiment"] = f"""
WITH scored AS (
  SELECT doc_id, source,
         (CAST({_POS_SQL} AS DOUBLE) - CAST({_NEG_SQL} AS DOUBLE))
         / greatest(CAST({_POS_SQL} AS DOUBLE) + CAST({_NEG_SQL} AS DOUBLE), 1.0) AS polarity
  FROM documents
)
SELECT source,
       CASE WHEN polarity > 0.2 THEN 'Positiva'
            WHEN polarity < -0.2 THEN 'Negativa'
            ELSE 'Neutra' END AS clasificacion,
       COUNT(*) AS n_opiniones,
       ROUND(AVG(polarity), 6) AS avg_polarity
FROM scored
GROUP BY 1, 2
"""

EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONEISH_RE = r"\b[0-9]{3}[- .][0-9]{3,4}[- .][0-9]{4}\b"


def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compliance scrub: regex-based PII redaction (emails, phone-ish
    numbers) before a corpus ships — synthesized PII is planted on
    every 7th doc so the operator provably fires, then counted.
    Pure regexp_replace: scan-side, codegen'd."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    redacted = planted.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
            PHONEISH_RE,
            "<PHONE>",
        ).alias("clean_text"),
    )
    return redacted.select(
        "doc_id",
        F.regexp_count(F.col("clean_text"), F.lit("<EMAIL>")).cast("bigint").alias("n_emails_redacted"),
        F.regexp_count(F.col("clean_text"), F.lit("<PHONE>")).cast("bigint").alias("n_phones_redacted"),
        F.length("clean_text").cast("bigint").alias("clean_len"),
    )


ORACLES["text_pii_redaction"] = f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-123-4567'
              ELSE text END AS text
  FROM documents
),
redacted AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                        '{PHONEISH_RE}', '<PHONE>', 'g') AS clean_text
  FROM planted
)
SELECT doc_id,
       CAST(len(regexp_extract_all(clean_text, '<EMAIL>')) AS BIGINT) AS n_emails_redacted,
       CAST(len(regexp_extract_all(clean_text, '<PHONE>')) AS BIGINT) AS n_phones_redacted,
       CAST(length(clean_text) AS BIGINT) AS clean_len
FROM redacted
"""

def text_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T23 — corpus-unigram-LM log-likelihood per document: the
    CCNet/Dolma-style "perplexity" quality signal, with the LM
    trained on the corpus itself in the same job. avg_logprob =
    mean over tokens of ln(count(tok)/N) — rare-token-heavy (noisy)
    documents score low, stereotypical ones high. Distributed shape:
    one token explode feeds BOTH the model (per-token counts + the
    1-row total, broadcast back) and the scoring join; per-term ln
    values route through a DECIMAL(18,12) accumulator so the per-doc
    sum is order-independent (columns.py dsum note), and the final
    4dp rounding absorbs ln's last-ulp engine difference."""
    return _unigram_scores(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def _unigram_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, avg_logprob) — shared by T23 and T29."""
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = tok.agg(F.count("*").cast("double").alias("n_total"))
    scored = tok.join(cnt, "tok").crossJoin(F.broadcast(total))
    logp = F.log(F.col("cnt") / F.col("n_total"))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(dsum(logp, 12) / F.count("*"), 4).alias("avg_logprob"),
    )


ORACLES["text_unigram_lm_score"] = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
cnt AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM tok)
SELECT doc_id, COUNT(*) AS n_tokens,
       ROUND(CAST(SUM(CAST(ln(CAST(cnt AS DOUBLE) / n_total) AS DECIMAL(18,12))) AS DOUBLE)
             / COUNT(*), 4) AS avg_logprob
FROM tok JOIN cnt USING (tok) CROSS JOIN n
GROUP BY doc_id
ORDER BY doc_id
"""


PPL_LO, PPL_HI, PPL_BINS = -3.7, -3.35, 14


def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T29 — CCNet-style perplexity partitioning of the corpus: the
    unigram-LM score (T23) bucketed into equal-width bands with a
    head/middle/tail label — the step that splits a web crawl into
    quality tiers before mixing (CCNet keeps head+middle, resamples
    tail). Composition of T23's scorer and A40's fixed-bound
    histogram: one extra aggregation over the scored table, bounds
    are domain constants clamped BOTH ends (scores are negative
    log-probs), bucket arithmetic on the 4dp-rounded score is
    bit-identical cross-engine. High avg_logprob (stereotypical text)
    = head, like CCNet's low-perplexity head. For corpus-dependent
    tier cuts compose with A22's exact percentiles instead."""
    width = (PPL_HI - PPL_LO) / PPL_BINS
    scores = _unigram_scores(load_table(spark, sf_dir, "documents"))
    bucket = F.least(
        F.lit(PPL_BINS - 1),
        F.greatest(F.lit(0), F.floor((F.col("avg_logprob") - F.lit(PPL_LO)) / F.lit(width))),
    ).cast("int")
    band = (
        F.when(F.col("bin") >= 12, "head").when(F.col("bin") >= 8, "middle").otherwise("tail")
    )
    return (
        scores.groupBy(bucket.alias("bin"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.round(dsum(F.col("avg_logprob"), 12) / F.count("*"), 4).alias("mean_logprob"),
        )
        .withColumn("bin_lo", F.round(F.col("bin") * F.lit(width) + F.lit(PPL_LO), 4))
        .withColumn("band", band)
        .select("bin", "bin_lo", "band", "n_docs", "sum_tokens", "mean_logprob")
        .orderBy("bin")
    )


ORACLES["text_perplexity_buckets"] = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
cnt AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM tok),
scores AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         ROUND(CAST(SUM(CAST(ln(CAST(cnt AS DOUBLE) / n_total) AS DECIMAL(18,12))) AS DOUBLE)
               / COUNT(*), 4) AS avg_logprob
  FROM tok JOIN cnt USING (tok) CROSS JOIN n
  GROUP BY doc_id
),
binned AS (
  SELECT LEAST({PPL_BINS - 1},
               GREATEST(0, CAST(FLOOR((avg_logprob - ({PPL_LO})) / {(PPL_HI - PPL_LO) / PPL_BINS}) AS INT))) AS bin,
         n_tokens, avg_logprob
  FROM scores
)
SELECT bin,
       ROUND(bin * {(PPL_HI - PPL_LO) / PPL_BINS} + ({PPL_LO}), 4) AS bin_lo,
       CASE WHEN bin >= 12 THEN 'head' WHEN bin >= 8 THEN 'middle' ELSE 'tail' END AS band,
       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(CAST(SUM(CAST(avg_logprob AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 4) AS mean_logprob
FROM binned
GROUP BY bin
ORDER BY bin
"""


def text_quality_terciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T31 — corpus-DEPENDENT quality tiers (the exact CCNet split,
    complementing T29's fixed-bound bins): tercile cut points from
    A22's exact percentile over the unigram-LM score, broadcast back
    as a 1-row scalar, every doc tagged head/middle/tail, per-band
    accounting. Two passes over the doc-level score table: one global
    percentile agg, one tag+rollup — the fact-scale work (tokenize +
    score) happens once upstream. Scale note: EXACT percentile state
    is value-count-sized on the final reducer; that is fine for
    thousands-to-millions of docs and is what makes the cuts
    oracle-checkable here, but a billions-of-docs corpus should swap
    the cut computation for the KLL sketch (A34, mergeable constant
    state, ~1.65% rank error) — the tag+rollup stage is unchanged.

    Cross-engine determinism: both engines linear-interpolate exact
    percentiles with the same (n−1)·q position arithmetic on the
    SAME 4dp-rounded doubles, so the cuts are bit-identical; a cut
    can only coincide with a data value when the two neighbors are
    equal, in which case interpolation returns exactly that value in
    both engines — band comparisons can never disagree."""
    scores = _unigram_scores(load_table(spark, sf_dir, "documents"))
    cuts = scores.agg(
        F.percentile("avg_logprob", F.lit(1.0 / 3.0)).alias("cut_lo"),
        F.percentile("avg_logprob", F.lit(2.0 / 3.0)).alias("cut_hi"),
    )
    band = (
        F.when(F.col("avg_logprob") > F.col("cut_hi"), "head")
        .when(F.col("avg_logprob") > F.col("cut_lo"), "middle")
        .otherwise("tail")
    )
    return (
        scores.crossJoin(F.broadcast(cuts))
        .withColumn("band", band)
        .groupBy("band")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.round(dsum(F.col("avg_logprob"), 12) / F.count("*"), 4).alias("mean_logprob"),
            F.round(F.min("cut_lo"), 4).alias("cut_lo_r4"),
            F.round(F.min("cut_hi"), 4).alias("cut_hi_r4"),
        )
        .orderBy("band")
    )


ORACLES["text_quality_terciles"] = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
cnt AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM tok),
scores AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         ROUND(CAST(SUM(CAST(ln(CAST(cnt AS DOUBLE) / n_total) AS DECIMAL(18,12))) AS DOUBLE)
               / COUNT(*), 4) AS avg_logprob
  FROM tok JOIN cnt USING (tok) CROSS JOIN n
  GROUP BY doc_id
),
cuts AS (
  SELECT quantile_cont(avg_logprob, {1.0 / 3.0}) AS cut_lo,
         quantile_cont(avg_logprob, {2.0 / 3.0}) AS cut_hi
  FROM scores
),
tagged AS (
  SELECT s.*, c.cut_lo, c.cut_hi,
         CASE WHEN avg_logprob > cut_hi THEN 'head'
              WHEN avg_logprob > cut_lo THEN 'middle'
              ELSE 'tail' END AS band
  FROM scores s CROSS JOIN cuts c
)
SELECT band, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(CAST(SUM(CAST(avg_logprob AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 4) AS mean_logprob,
       ROUND(MIN(cut_lo), 4) AS cut_lo_r4,
       ROUND(MIN(cut_hi), 4) AS cut_hi_r4
FROM tagged
GROUP BY band
ORDER BY band
"""


def text_bigram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T25 — corpus adjacent-pair statistics: the top-20 most
    frequent token bigrams with their document frequency — the
    counting step a BPE/WordPiece vocabulary build iterates (each
    merge round re-ranks exactly this table). Pairs are formed
    INSIDE the token array (one list_transform over 1-based indices,
    no positional self-join — a posexplode+join doubles the shuffle
    for no reason), then one explode + one aggregation. Guarded for
    size<2 because Spark's sequence(1,0) counts DOWN instead of
    returning empty."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    pairs = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = staged.select("doc_id", F.explode(pairs).alias("pair"))
    stats = exploded.groupBy("pair").agg(
        F.count("*").alias("pair_count"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    # top-k via TakeOrderedAndProject, NOT a global window: the
    # bigram table is strictly larger than the vocabulary and the old
    # global row_number funneled all of it through one task
    # (VERDICT r4).
    return ranked_topk(stats, [F.desc("pair_count"), F.asc("pair")], 20).select(
        "rank", "pair", "pair_count", "doc_freq"
    )


ORACLES["text_bigram_pairs"] = f"""
WITH staged AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
exploded AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 2
                     THEN list_transform(generate_series(1, len(toks) - 1),
                                         i -> toks[i] || ' ' || toks[i + 1])
                     ELSE [] END) AS pair
  FROM staged
),
stats AS (
  SELECT pair, COUNT(*) AS pair_count, COUNT(DISTINCT doc_id) AS doc_freq
  FROM exploded GROUP BY pair
)
SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS BIGINT) AS rank,
       pair, pair_count, doc_freq
FROM stats
QUALIFY rank <= 20
"""


GOPHER_MIN_TOKENS = 16
GOPHER_MEAN_WORD_LO = 3.0
GOPHER_MEAN_WORD_HI = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MAX_TOP2_FRAC = 0.06
GOPHER_MAX_TOP3_FRAC = 0.05
GOPHER_MAX_DUP5_FRAC = 0.30


def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T35 — the Gopher repetition/quality rule battery (Rae et al.
    2021, Table A1), token-gram form (the testdata documents carry no
    line structure, so the line-based rules map onto n-gram rules):
    mean word length in [3,10], ≥80% alphabetic words, top-2-gram and
    top-3-gram occurrence fraction caps, duplicate-5-gram fraction
    cap, and a minimum token count — plus the per-doc metrics
    themselves so downstream filters can re-threshold without a
    rescan.

    Scale shape: scalar metrics are one codegen'd scan; each n-gram
    statistic is explode → groupBy keyed by (doc_id[, gram]) — every
    shuffle carries the doc_id key (no global aggregation, no
    window); the three gram branches re-join the base on doc_id.
    Short docs produce empty gram arrays, surface as NULL via the
    left joins, and are coalesced to 0 — never silently dropped."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text", tokens(F.col("text")).alias("toks"))
    t = F.col("toks")
    n_tokens = F.size(t).cast("bigint")
    sum_len = F.aggregate(
        F.transform(t, lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    n_alpha = F.size(F.filter(t, lambda x: x.rlike("[a-z]"))).cast("bigint")
    scalars = base.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(sum_len / F.greatest(n_tokens, F.lit(1)), 6).alias("mean_word_len"),
        F.round(n_alpha / F.greatest(n_tokens, F.lit(1)), 6).alias("alpha_frac"),
    )

    def top_frac(n: int, out: str) -> DataFrame:
        grams = base.select("doc_id", F.explode(shingles(t, n)).alias("g"))
        per_gram = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
        return per_gram.groupBy("doc_id").agg(
            F.round(F.max("c") / F.sum("c"), 6).alias(out)
        )

    dup5 = (
        base.select("doc_id", F.explode(shingles(t, 5)).alias("g"))
        .groupBy("doc_id")
        .agg(
            F.round(
                (F.count("*") - F.countDistinct("g")) / F.count("*"), 6
            ).alias("dup5_frac")
        )
    )
    joined = (
        scalars.join(top_frac(2, "top2_frac"), "doc_id", "left")
        .join(top_frac(3, "top3_frac"), "doc_id", "left")
        .join(dup5, "doc_id", "left")
        .fillna(
            0.0, subset=["top2_frac", "top3_frac", "dup5_frac"]
        )
    )
    verdict = (
        (F.col("n_tokens") >= GOPHER_MIN_TOKENS)
        & (F.col("mean_word_len") >= GOPHER_MEAN_WORD_LO)
        & (F.col("mean_word_len") <= GOPHER_MEAN_WORD_HI)
        & (F.col("alpha_frac") >= GOPHER_MIN_ALPHA_FRAC)
        & (F.col("top2_frac") <= GOPHER_MAX_TOP2_FRAC)
        & (F.col("top3_frac") <= GOPHER_MAX_TOP3_FRAC)
        & (F.col("dup5_frac") <= GOPHER_MAX_DUP5_FRAC)
    )
    return joined.withColumn("gopher_pass", verdict)


ORACLES["text_gopher_quality"] = f"""
WITH base AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
),
scalars AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         ROUND(CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT)
               / greatest(CAST(len(toks) AS BIGINT), 1), 6) AS mean_word_len,
         ROUND(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT)
               / greatest(CAST(len(toks) AS BIGINT), 1), 6) AS alpha_frac
  FROM base
),
g2 AS (
  SELECT doc_id, ROUND(MAX(c) / SUM(c), 6) AS top2_frac FROM (
    SELECT doc_id, g, COUNT(*) AS c
    FROM (SELECT doc_id, unnest({shingles_sql('toks', 2)}) AS g FROM base)
    GROUP BY doc_id, g
  ) GROUP BY doc_id
),
g3 AS (
  SELECT doc_id, ROUND(MAX(c) / SUM(c), 6) AS top3_frac FROM (
    SELECT doc_id, g, COUNT(*) AS c
    FROM (SELECT doc_id, unnest({shingles_sql('toks', 3)}) AS g FROM base)
    GROUP BY doc_id, g
  ) GROUP BY doc_id
),
g5 AS (
  SELECT doc_id,
         ROUND((COUNT(*) - COUNT(DISTINCT g)) / COUNT(*), 6) AS dup5_frac
  FROM (SELECT doc_id, unnest({shingles_sql('toks', 5)}) AS g FROM base)
  GROUP BY doc_id
)
SELECT s.doc_id, s.n_tokens, s.mean_word_len, s.alpha_frac,
       COALESCE(g2.top2_frac, 0.0) AS top2_frac,
       COALESCE(g3.top3_frac, 0.0) AS top3_frac,
       COALESCE(g5.dup5_frac, 0.0) AS dup5_frac,
       (s.n_tokens >= {GOPHER_MIN_TOKENS}
        AND s.mean_word_len >= {GOPHER_MEAN_WORD_LO}
        AND s.mean_word_len <= {GOPHER_MEAN_WORD_HI}
        AND s.alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
        AND COALESCE(g2.top2_frac, 0.0) <= {GOPHER_MAX_TOP2_FRAC}
        AND COALESCE(g3.top3_frac, 0.0) <= {GOPHER_MAX_TOP3_FRAC}
        AND COALESCE(g5.dup5_frac, 0.0) <= {GOPHER_MAX_DUP5_FRAC}) AS gopher_pass
FROM scalars s
LEFT JOIN g2 USING (doc_id)
LEFT JOIN g3 USING (doc_id)
LEFT JOIN g5 USING (doc_id)
"""


BPE_N_MERGES = 8


def _merge_pair(sym, left: str, right: str):
    """Greedy left-to-right merge of one (left, right) symbol pair
    inside a symbol array, as a single fold — no Python, no explode.
    After a merge the accumulator's tail is the MERGED symbol, so
    overlapping runs behave like reference BPE ('aaa' + (a,a) →
    [aa, a], not [aa, aa])."""
    merged = left + right
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    words: DataFrame,
    n_merges: int = BPE_N_MERGES,
    round_seconds: list[float] | None = None,
) -> list[tuple[str, str, int]]:
    """Byte-pair-encoding vocabulary training over a (word, freq)
    table: each round counts adjacent symbol pairs (freq-weighted,
    pairs formed in-array like T25), merges the most frequent pair
    everywhere, repeats. Returns [(left, right, pair_count), ...].

    Distributed shape — the part that matters at 100 TB: training
    runs on the DISTINCT-word frequency table (vocabulary-sized, not
    corpus-sized; the corpus is touched once to build it), each round
    is one explode + one freq-weighted aggregation + a 1-ROW collect
    (the argmax pair — the k-means-style bounded driver round-trip),
    and the merge application is a per-row fold expression. Ties
    break lexicographically, so training is deterministic.

    Each round's merged table is ``localCheckpoint``ed, not merely
    persisted: the fold expression nests one level per round, so
    without plan truncation Spark re-analyzes an O(rounds)-deep plan
    every round and a realistic 30k-merge vocabulary goes quadratic
    in ANALYSIS time alone (the repo's iterative-plan note, SURVEY
    §7; same fix as connected components). With the checkpoint, each
    round starts from a flat scan of materialized blocks — per-round
    cost stays flat (test-pinned in test_operators)."""
    sym_word = words.select(
        "freq",
        F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))").alias("sym"),
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    try:
        for _ in range(n_merges):
            t0 = time.perf_counter() if round_seconds is not None else 0.0
            pairs = F.when(
                F.size("sym") >= 2,
                F.expr(
                    "transform(sequence(1, size(sym) - 1),"
                    " i -> struct(element_at(sym, i) AS l, element_at(sym, i + 1) AS r))"
                ),
            ).otherwise(F.expr("array()").cast("array<struct<l:string,r:string>>"))
            top = (
                sym_word.select("freq", F.explode(pairs).alias("p"))
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").alias("pair_count"))
                .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            left, right, cnt = top[0].l, top[0].r, top[0].pair_count
            merges.append((left, right, int(cnt)))
            # truncate the plan each round: the fold nests otherwise
            nxt = sym_word.select(
                "freq", _merge_pair(F.col("sym"), left, right).alias("sym")
            ).localCheckpoint(eager=True)
            sym_word.unpersist()
            sym_word = nxt
            if round_seconds is not None:
                round_seconds.append(time.perf_counter() - t0)
    finally:
        sym_word.unpersist()
    return merges


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T27 — BPE vocabulary training, the full iterative loop (T25 is
    its single counting step): BPE_N_MERGES merge rounds over the
    corpus word-frequency table; returns the learned merge table.
    (Rows-only: the loop is data-dependently iterative — not
    expressible as one SQL query; the golden unit test pins the
    merge sequence on a hand-computed corpus.)"""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    merges = bpe_train(words)
    return local_frame(
        spark,
        [(i + 1, l, r, l + r, c) for i, (l, r, c) in enumerate(merges)],
        "rank long, left string, right string, merged string, pair_count long",
    )


BPE_ENCODE_CHECKPOINT_EVERY = 16


def bpe_encode_words(words: DataFrame, merges: list[tuple[str, str, int]]) -> DataFrame:
    """Apply a trained BPE merge list, in rank order, to a DISTINCT
    word table → (word, sym) encoded symbol arrays. Each merge is one
    ``_merge_pair`` fold expression, so k merges compose into ONE
    JVM-side scan of the vocabulary — no Python in the loop and no
    per-merge job. The composed expression nests one level per merge,
    so every ``BPE_ENCODE_CHECKPOINT_EVERY`` merges the plan is
    truncated via localCheckpoint (same iterative-plan rule as
    training, SURVEY §7) — realistic 30k-merge vocabularies stay
    analysis-flat."""
    sym = words.select(
        "word",
        F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))").alias("sym"),
    )
    for i, (left, right, _) in enumerate(merges):
        sym = sym.select("word", _merge_pair(F.col("sym"), left, right).alias("sym"))
        if (i + 1) % BPE_ENCODE_CHECKPOINT_EVERY == 0 and i + 1 < len(merges):
            sym = sym.localCheckpoint(eager=True)
    return sym


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T37 — encode the corpus with a BPE vocabulary trained in the
    same job (T27's loop): the tokenize step of the actual
    training-data pipeline. Scale shape — the expensive iterated
    work happens on the DISTINCT word table (vocabulary-sized), never
    the corpus: train on word frequencies, encode each distinct word
    once, then ONE hash join maps the corpus token stream onto its
    encoded lengths and a per-source rollup reports the compression
    the vocabulary achieves. (Rows-only: the merge list is the output
    of a data-dependent iterative loop; the golden unit test pins
    encode results on the textbook corpus.)"""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    )
    words = tok.groupBy("word").agg(F.count("*").alias("freq"))
    merges = bpe_train(words)
    encoded = bpe_encode_words(words.select("word"), merges).select(
        "word",
        F.length("word").cast("bigint").alias("n_chars"),
        F.size("sym").cast("bigint").alias("n_syms"),
    )
    return (
        tok.join(encoded, "word")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum("n_syms").cast("bigint").alias("sum_syms"),
            F.round(F.sum("n_syms") / F.count("*"), 6).alias("syms_per_token"),
            F.round(F.sum("n_chars") / F.sum("n_syms"), 6).alias("compression"),
        )
    )


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T40 — context-window chunking: split every document into
    fixed-size token chunks on a fixed stride (overlap =
    CHUNK_TOKENS − CHUNK_STRIDE), the packing step that turns a
    cleaned corpus into training sequences. Chunk starts are
    generated in-array (one strided sequence + slice per row — no
    self-join, no window) and exploded; each chunk carries its token
    count and an md5 content hash so downstream exact-dedup (T1) can
    run at CHUNK granularity. One scan, one explode — scan-bound at
    100 TB, and the chunk table is the output."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    n = F.size("toks")
    chunks = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(CHUNK_STRIDE)),
        lambda i: F.struct(
            ((i - 1) / CHUNK_STRIDE + 1).cast("bigint").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(F.col("toks"), i, CHUNK_TOKENS)).alias("body"),
            F.least(F.lit(CHUNK_TOKENS), n - i + 1).cast("bigint").alias("n_chunk_tokens"),
        ),
    )
    out = staged.filter(n >= 1).select("doc_id", F.explode(chunks).alias("c"))
    return out.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.n_chunk_tokens").alias("n_chunk_tokens"),
        F.md5(F.col("c.body")).alias("chunk_md5"),
    )


ORACLES["text_chunk_documents"] = f"""
WITH base AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
),
starts AS (
  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks), 1), {CHUNK_STRIDE})) AS i
  FROM base WHERE len(toks) >= 1
)
SELECT doc_id,
       CAST((i - 1) / {CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_idx,
       CAST(least({CHUNK_TOKENS}, len(toks) - i + 1) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(toks[i:i+{CHUNK_TOKENS - 1}], ' ')) AS chunk_md5
FROM starts
"""


def text_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T45 — chunk-level duplication accounting: T40's chunk table
    fed through T1's content-hash dedup criterion, rolled up per
    source — what fraction of a source's TRAINING SEQUENCES is
    corpus-duplicated (document-level dedup misses chunks repeated
    across otherwise-distinct documents, e.g. boilerplate headers).
    Chunk hashes never leave the JVM: one global hash-frequency
    aggregation, one broadcast-free join back, one source rollup —
    all keyed shuffles. unique_chunk_frac is the deduped-corpus size
    a chunk-level exact dedup would keep."""
    chunks = text_chunk_documents(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    freq = chunks.groupBy("chunk_md5").agg(F.count("*").alias("n_copies"))
    tagged = chunks.join(freq, "chunk_md5").join(docs, "doc_id")
    return tagged.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("chunk_md5").alias("n_distinct"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0)).cast("bigint").alias("n_duplicated"),
        F.round(
            F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0)) / F.count("*"), 6
        ).alias("dup_chunk_frac"),
    )


ORACLES["text_chunk_dedup_stats"] = f"""
WITH base AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(toks[i:i+{CHUNK_TOKENS - 1}], ' ')) AS chunk_md5
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks), 1), {CHUNK_STRIDE})) AS i
        FROM base WHERE len(toks) >= 1)
),
freq AS (SELECT chunk_md5, COUNT(*) AS n_copies FROM chunks GROUP BY chunk_md5)
SELECT d.source,
       COUNT(*) AS n_chunks,
       COUNT(DISTINCT c.chunk_md5) AS n_distinct,
       CAST(SUM(CASE WHEN f.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicated,
       ROUND(SUM(CASE WHEN f.n_copies > 1 THEN 1 ELSE 0 END) / COUNT(*), 6) AS dup_chunk_frac
FROM chunks c JOIN freq f USING (chunk_md5) JOIN documents d USING (doc_id)
GROUP BY d.source
"""


HASH_TF_DIM = 64


def text_hashed_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T47 — feature hashing (the hashing trick): fixed-dimension
    bag-of-words TF vectors with bucket = hash(token) mod D, emitted
    sparse as (doc_id, bucket, tf, l2-normalized weight). This is the
    vocabulary-free featurizer for corpus-scale classifiers (T46
    trains on engineered features; this op is the text→vector path
    that needs NO global vocabulary build, no second pass, no
    driver-held dictionary — the property that makes it the 100 TB
    featurizer of choice).

    The hash is the first 8 hex chars of md5 (conv to int) — chosen
    over xxhash64/murmur because md5 is bit-identical across engines,
    so the DuckDB oracle verifies bucket assignment exactly (swap in
    ``F.xxhash64`` for production throughput; the plan shape is
    unchanged). Everything is JVM-side: explode → hash-mod →
    count per (doc, bucket) → per-doc window for the L2 norm
    (partitioned by doc_id — bounded by D buckets per doc, no global
    window)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    bucket = (md5_int(F.col("tok"), 8) % HASH_TF_DIM).cast("int")
    tf = tok.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count("*").alias("tf")
    )
    w = W.partitionBy("doc_id")
    return tf.select(
        "doc_id",
        "bucket",
        "tf",
        F.round(
            F.col("tf") / F.sqrt(F.sum(F.col("tf") * F.col("tf")).over(w)), 6
        ).alias("weight"),
    )


ORACLES["text_hashed_tf"] = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
tf AS (
  SELECT doc_id,
         CAST({md5_int_sql("tok", 8)} % {HASH_TF_DIM} AS INT) AS bucket,
         COUNT(*) AS tf
  FROM tok GROUP BY 1, 2
)
SELECT doc_id, bucket, tf,
       ROUND(tf / sqrt(SUM(tf * tf) OVER (PARTITION BY doc_id)), 6) AS weight
FROM tf
"""


DATASHEET_SHORT_DOC = 100  # chars — "short doc" threshold


def text_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T51 — the corpus datasheet (datasets "model card" for training
    data): per-source, per-(source, lang), and corpus-total rows from
    ONE scan via GROUPING SETS — doc counts, char and whitespace-
    token budgets, language spread, short-doc fraction, duplicate-
    text fraction (distinct-hash vs row count). This is the summary
    table every dataset release ships; computing it as one grouped
    aggregation (not a report script of N queries) is what makes it
    re-runnable per snapshot at 100 TB: one shuffle keyed on
    (source, lang), rollup levels share the scan via partial aggs.
    The ``level`` column disambiguates grouping-set rows the way
    GROUPING() does, so downstream consumers never confuse a NULL
    lang with the all-langs rollup."""
    docs = load_table(spark, sf_dir, "documents")
    docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(tokens(F.col("text"))).cast("bigint").alias("ws_tokens"),
        F.md5("text").alias("h"),
        (F.col("n_chars") < DATASHEET_SHORT_DOC).cast("int").alias("is_short"),
    ).createOrReplaceTempView("datasheet_docs")
    return spark.sql("""
        SELECT CASE WHEN GROUPING(source) = 1 THEN 'corpus'
                    WHEN GROUPING(lang) = 1 THEN 'source'
                    ELSE 'source_lang' END AS level,
               source, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
               COUNT(DISTINCT lang) AS n_langs,
               ROUND(AVG(CAST(is_short AS DOUBLE)), 6) AS short_frac,
               ROUND(CAST(1.0 - COUNT(DISTINCT h) * 1.0 / COUNT(*) AS DOUBLE), 6) AS dup_frac
        FROM datasheet_docs
        GROUP BY GROUPING SETS ((source, lang), (source), ())
        ORDER BY level, source NULLS FIRST, lang NULLS FIRST
    """)


ORACLES["text_corpus_datasheet"] = f"""
WITH datasheet_docs AS (
  SELECT source, lang, n_chars,
         CAST(len({_TOKS_SQL}) AS BIGINT) AS ws_tokens,
         md5(text) AS h,
         CASE WHEN n_chars < {DATASHEET_SHORT_DOC} THEN 1 ELSE 0 END AS is_short
  FROM documents
)
SELECT CASE WHEN GROUPING(source) = 1 THEN 'corpus'
            WHEN GROUPING(lang) = 1 THEN 'source'
            ELSE 'source_lang' END AS level,
       source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
       COUNT(DISTINCT lang) AS n_langs,
       ROUND(AVG(CAST(is_short AS DOUBLE)), 6) AS short_frac,
       ROUND(1.0 - COUNT(DISTINCT h) * 1.0 / COUNT(*), 6) AS dup_frac
FROM datasheet_docs
GROUP BY GROUPING SETS ((source, lang), (source), ())
ORDER BY level, source NULLS FIRST, lang NULLS FIRST
"""


def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T53 — language-ID confusion matrix: T8's predictions crossed
    with the generator's labels, plus per-label recall — the standard
    eval view of any classifier-shaped pipeline stage, as one grouped
    aggregation over the scored frame (no second scan: reuses T8's
    plan as a subtree). On this corpus the labels are content-
    independent (see T46's note), so the matrix QUANTIFIES exactly
    how the rule-based IDer degenerates — the honest diagnostic a
    real pipeline publishes before trusting a lang filter."""
    scored = text_lang_id(spark, sf_dir).select("doc_id", "lang", "predicted_lang")
    cm = scored.groupBy("lang", "predicted_lang").agg(F.count("*").alias("n"))
    w = W.partitionBy("lang")
    return cm.select(
        "lang",
        "predicted_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 4).alias("frac_of_label"),
    ).orderBy("lang", "predicted_lang")


ORACLES["text_lang_confusion"] = f"""
WITH scored AS (SELECT lang, predicted_lang FROM ({ORACLES["text_lang_id"].strip()})),
cm AS (
  SELECT lang, predicted_lang, COUNT(*) AS n FROM scored GROUP BY 1, 2
)
SELECT lang, predicted_lang, n,
       ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY lang), 4) AS frac_of_label
FROM cm
ORDER BY lang, predicted_lang
"""


def text_quality_dedup_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T55 — does low-quality content duplicate more? The curation
    question behind "dedup before or after quality filtering":
    exact-duplicate rate per quality tercile, composing T31's
    corpus-dependent cuts with T1's content-hash criterion in one
    report. Per band: docs, docs-in-dup-groups, dup rate. The dup
    flag is a group-size join on the md5 key (keyed shuffle); the
    tercile machinery is T31's (exact percentile cuts broadcast back;
    swap KLL at billions of docs). If the tail band's dup rate is
    materially higher, dedup-first is the cheaper order — the report
    turns that folklore into a measurement."""
    docs = load_table(spark, sf_dir, "documents")
    scores = _unigram_scores(docs)
    cuts = scores.agg(
        F.percentile("avg_logprob", F.lit(1.0 / 3.0)).alias("cut_lo"),
        F.percentile("avg_logprob", F.lit(2.0 / 3.0)).alias("cut_hi"),
    )
    hashes = docs.select("doc_id", F.md5("text").alias("h"))
    group_sz = hashes.groupBy("h").agg(F.count("*").alias("k"))
    flagged = (
        scores.join(hashes, "doc_id")
        .join(group_sz, "h")
        .select("avg_logprob", (F.col("k") > 1).cast("int").alias("dup"))
    )
    band = (
        F.when(F.col("avg_logprob") > F.col("cut_hi"), "head")
        .when(F.col("avg_logprob") > F.col("cut_lo"), "middle")
        .otherwise("tail")
    )
    return (
        flagged.crossJoin(F.broadcast(cuts))
        .withColumn("band", band)
        .groupBy("band")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("dup").cast("bigint").alias("n_duplicated"),
            F.round(F.sum("dup") / F.count("*"), 4).alias("dup_rate"),
        )
        .orderBy("band")
    )


ORACLES["text_quality_dedup_interaction"] = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
cnt AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM tok),
scores AS (
  SELECT doc_id,
         ROUND(CAST(SUM(CAST(ln(CAST(cnt AS DOUBLE) / n_total) AS DECIMAL(18,12))) AS DOUBLE)
               / COUNT(*), 4) AS avg_logprob
  FROM tok JOIN cnt USING (tok) CROSS JOIN n
  GROUP BY doc_id
),
cuts AS (
  SELECT quantile_cont(avg_logprob, {1.0 / 3.0}) AS cut_lo,
         quantile_cont(avg_logprob, {2.0 / 3.0}) AS cut_hi
  FROM scores
),
group_sz AS (SELECT md5(text) AS h, COUNT(*) AS k FROM documents GROUP BY 1),
flagged AS (
  SELECT s.avg_logprob, CASE WHEN g.k > 1 THEN 1 ELSE 0 END AS dup
  FROM documents d
  JOIN scores s USING (doc_id)
  JOIN group_sz g ON md5(d.text) = g.h
)
SELECT CASE WHEN avg_logprob > cut_hi THEN 'head'
            WHEN avg_logprob > cut_lo THEN 'middle'
            ELSE 'tail' END AS band,
       COUNT(*) AS n_docs,
       CAST(SUM(dup) AS BIGINT) AS n_duplicated,
       ROUND(SUM(dup) * 1.0 / COUNT(*), 4) AS dup_rate
FROM flagged CROSS JOIN cuts
GROUP BY 1
ORDER BY 1
"""


def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T62 — bigram-LM document scoring: per-doc mean conditional
    log-probability under an add-one-smoothed corpus bigram model,
    p(w2|w1) = (c(w1 w2)+1)/(c(w1)+V). The conditional-model step up
    from T23's unigram scorer: repetitive docs score HIGH under
    unigrams but a bigram model also rewards locally-coherent
    transitions — the pair is the standard quality-signal ladder
    (CCNet uses a 5-gram KenLM; same shape, same smoothing family).

    Distributed shape: ONE shingle pass (functions/text.py shingles —
    the bind-once lambda form) feeds both the model counts and the
    scoring join; bigram counts join on the pair key, unigram counts
    on the first token, V is a 1-row broadcast. Per-pair ln routes
    through DECIMAL(18,12) (order-independent sums), 4dp edge
    rounding absorbs ln ulps — the T23 discipline throughout."""
    docs = load_table(spark, sf_dir, "documents")
    # persist: the bigram stream feeds BOTH the model counts and the
    # scoring join — unpersisted, the tokenize+shingle pass runs
    # twice (the full-corpus scan is the dominant cost at scale).
    # Callers that loop this clearCache between reps (bench contract).
    grams = docs.select("doc_id", tokens(F.col("text")).alias("toks")).select(
        "doc_id", F.explode(shingles(F.col("toks"), 2)).alias("pair")
    ).persist()
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    c12 = grams.groupBy("pair").agg(F.count("*").alias("c12"))
    c1 = toks.groupBy(F.col("tok").alias("w1")).agg(F.count("*").alias("c1"))
    vocab = toks.agg(F.countDistinct("tok").alias("v"))
    scored = (
        grams.join(c12, "pair")
        .withColumn("w1", F.split("pair", " ")[0])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "logp", F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")))
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(dsum(F.col("logp"), 12) / F.count("*"), 4).alias("avg_logprob"),
    )


_BIGRAMS_SQL = shingles_sql("toks", 2)

ORACLES["text_bigram_lm_score"] = f"""
WITH grams AS (
  SELECT doc_id, unnest({_BIGRAMS_SQL}) AS pair
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
),
tok AS (SELECT unnest({_TOKS_SQL}) AS tok FROM documents),
c12 AS (SELECT pair, COUNT(*) AS c12 FROM grams GROUP BY 1),
c1 AS (SELECT tok AS w1, COUNT(*) AS c1 FROM tok GROUP BY 1),
vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM tok),
scored AS (
  SELECT g.doc_id,
         ln((c12.c12 + 1) / CAST(c1.c1 + vocab.v AS DOUBLE)) AS logp
  FROM grams g
  JOIN c12 ON c12.pair = g.pair
  JOIN c1 ON c1.w1 = string_split(g.pair, ' ')[1]
  CROSS JOIN vocab
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(CAST(logp AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 4) AS avg_logprob
FROM scored GROUP BY doc_id
"""


NOVELTY_DECILES = 10


def text_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T64 — corpus novelty-decay curve: in ingestion order (doc_id),
    what fraction of each document's distinct 3-gram shingles has
    never appeared in any earlier document? Plotted per doc-id
    decile, this is the diminishing-returns curve of continued
    crawling — when marginal novelty flattens, more of the same
    source stops buying model quality (the redundancy-growth
    measurement behind data-mixing decisions, cf. the repetition
    budgets of T59).

    One shingle pass: per-(shingle, doc) distinct frame feeds BOTH
    the global first-occurrence aggregate (min doc_id per shingle —
    shuffle keyed on the shingle) and the per-doc rollup; "novel" =
    the doc IS the shingle's first occurrence. Decile = ordinal
    bucket over the dense doc-id range (broadcast 1-row max), exact
    integer arithmetic; rates divide exact counts, 6dp."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(shingles(F.col("toks"), 3)).alias("sh"))
        .distinct()
        .persist()  # feeds the first-occurrence agg AND the rollup join
    )
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1)).alias(
                "n_novel"
            ),
        )
    )
    maxd = docs.agg(F.max("doc_id").alias("max_doc"))
    return (
        per_doc.crossJoin(F.broadcast(maxd))
        .groupBy(
            F.least(
                F.lit(NOVELTY_DECILES - 1).cast("bigint"),
                F.expr(f"(doc_id * {NOVELTY_DECILES}) div (max_doc + 1)"),
            ).alias("decile")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_shingles").alias("n_shingles"),
            F.sum("n_novel").alias("n_novel"),
            F.round(F.sum("n_novel") / F.sum("n_shingles"), 6).alias("novelty_rate"),
        )
    )


_SH3_SQL = shingles_sql("toks", 3)

ORACLES["text_novelty_decay"] = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, sh
  FROM (SELECT doc_id, unnest({_SH3_SQL}) AS sh
        FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents))
),
firsts AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
per_doc AS (
  SELECT s.doc_id, COUNT(*) AS n_shingles,
         COUNT(CASE WHEN f.first_doc = s.doc_id THEN 1 END) AS n_novel
  FROM sh s JOIN firsts f ON s.sh = f.sh
  GROUP BY s.doc_id
),
maxd AS (SELECT MAX(doc_id) AS max_doc FROM documents)
SELECT LEAST({NOVELTY_DECILES - 1},
             (p.doc_id * {NOVELTY_DECILES}) // (m.max_doc + 1)) AS decile,
       COUNT(*) AS n_docs,
       CAST(SUM(n_shingles) AS BIGINT) AS n_shingles,
       CAST(SUM(n_novel) AS BIGINT) AS n_novel,
       ROUND(SUM(n_novel) / CAST(SUM(n_shingles) AS DOUBLE), 6) AS novelty_rate
FROM per_doc p CROSS JOIN maxd m
GROUP BY 1
"""


UDTF_CHUNK_CHARS = 100


def text_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T65 — document chunking via a Spark 4 Python UDTF invoked as a
    correlated LATERAL table function — the API surface users coming
    from Snowflake/BigQuery table functions expect, exercised end to
    end (class definition → registration → `FROM t, LATERAL f(...)`).
    Emits (idx, n_chars, md5) per fixed-width chunk, value-oracled
    against DuckDB substring arithmetic — proving the Python rows
    match engine substring semantics byte-for-byte.

    Perf envelope, stated honestly: a UDTF is row-at-a-time Python
    (one pickled row round-trip per input row) — this op is the API
    demonstration; T40's `text_chunk_documents` is the production
    chunker (JVM-side sequence/substring, whole-stage codegen). Use
    a UDTF when the table logic genuinely needs Python (an external
    tokenizer, a sentencizer model), not for string slicing."""
    from pyspark.sql.functions import udtf

    size = UDTF_CHUNK_CHARS

    @udtf(returnType="idx int, n_chars int, chunk_md5 string")
    class ChunkSplitter:
        def eval(self, text: str):
            import hashlib

            if text is None:
                return
            for i in range(0, len(text), size):
                chunk = text[i : i + size]
                yield i // size, len(chunk), hashlib.md5(
                    chunk.encode("utf-8")
                ).hexdigest()

    spark.udtf.register("chunk_splitter", ChunkSplitter)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf_src")
    return spark.sql(
        """
        SELECT d.doc_id, c.idx, c.n_chars, c.chunk_md5
        FROM docs_udtf_src d, LATERAL chunk_splitter(d.text) c
        """
    )


ORACLES["text_chunk_udtf"] = f"""
SELECT doc_id, i AS idx,
       CAST(length(substr(text, i * {UDTF_CHUNK_CHARS} + 1, {UDTF_CHUNK_CHARS})) AS INT) AS n_chars,
       md5(substr(text, i * {UDTF_CHUNK_CHARS} + 1, {UDTF_CHUNK_CHARS})) AS chunk_md5
FROM documents,
     unnest(range(0, CAST(ceil(length(text) / {UDTF_CHUNK_CHARS}.0) AS INT))) AS t(i)
"""


def text_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T68 — tokenizer round-trip integrity: train BPE (T27), encode
    every distinct word (T37), DECODE by rejoining each word's
    symbol sequence, reassemble every document from its decoded
    words in position order, and emit the reconstruction's md5 —
    which the oracle computes INDEPENDENTLY from the raw text. A
    tokenizer that loses or reorders a single byte anywhere in the
    corpus fails on that document's row; `n_mismatched` pins the
    per-word identity (BPE merges only ever join adjacent symbols,
    so decode(encode(w)) == w must hold exactly). The iterated work
    stays vocabulary-sized (T37's discipline); per-doc reassembly is
    an in-group position sort bounded by doc length (the T57
    shape)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "word")
    ).persist()  # feeds the vocabulary build AND the reassembly join
    words = tok.groupBy("word").agg(F.count("*").alias("freq"))
    merges = bpe_train(words)
    decoded = bpe_encode_words(words.select("word"), merges).select(
        "word", F.concat_ws("", "sym").alias("rejoined")
    )
    return (
        tok.join(decoded, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count(F.when(F.col("rejoined") != F.col("word"), 1)).alias(
                "n_mismatched"
            ),
            F.md5(
                F.concat_ws(
                    " ",
                    F.array_sort(
                        F.collect_list(F.struct("pos", "rejoined"))
                    ).getField("rejoined"),
                )
            ).alias("text_md5"),
        )
    )


ORACLES["text_bpe_roundtrip"] = f"""
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(0 AS BIGINT) AS n_mismatched,
       md5(array_to_string(toks, ' ')) AS text_md5
FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
WHERE len(toks) > 0
"""


PSI_BUCKETS = 10


def text_quality_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T69 — population stability index of the quality-score
    distribution between a reference slice (even doc_ids — the
    corpus a filter was tuned on) and the current slice (odd — the
    fresh crawl): PSI = Σ (p−q)·ln(p/q) over fixed-width score
    buckets, the standard drift alarm for any score a pipeline
    gates on (PSI < 0.1 stable, > 0.25 investigate). One pass over
    the already-verified T9 score plan, one bucket aggregate,
    one #buckets-row fold; add-half smoothing keeps empty buckets
    finite; per-bucket ln routes through DECIMAL(18,12) and the
    4dp edge (the T23 discipline)."""
    scored = text_quality_score(spark, sf_dir).select(
        "doc_id",
        F.least(
            F.lit(PSI_BUCKETS - 1),
            F.floor(F.col("quality_score") * PSI_BUCKETS).cast("int"),
        ).alias("bucket"),
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
    )
    cells = scored.groupBy("bucket").agg(
        F.count(F.when(F.col("is_ref"), 1)).alias("n_ref"),
        F.count(F.when(~F.col("is_ref"), 1)).alias("n_cur"),
    )
    tot = scored.agg(
        F.count(F.when(F.col("is_ref"), 1)).alias("t_ref"),
        F.count(F.when(~F.col("is_ref"), 1)).alias("t_cur"),
    )
    p = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 0.5 * PSI_BUCKETS)
    q = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 0.5 * PSI_BUCKETS)
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_ref",
            "n_cur",
            F.round((p - q) * F.log(p / q), 4).alias("psi_component"),
        )
    )


_QSRC_SQL = ORACLES["text_quality_score"].strip().rstrip(";")

ORACLES["text_quality_psi"] = f"""
WITH qsrc AS (SELECT * FROM ({_QSRC_SQL})),
scored AS (
  SELECT doc_id,
         LEAST({PSI_BUCKETS - 1}, CAST(FLOOR(quality_score * {PSI_BUCKETS}) AS INT)) AS bucket,
         doc_id % 2 = 0 AS is_ref
  FROM qsrc
),
cells AS (
  SELECT bucket,
         COUNT(CASE WHEN is_ref THEN 1 END) AS n_ref,
         COUNT(CASE WHEN NOT is_ref THEN 1 END) AS n_cur
  FROM scored GROUP BY 1
),
tot AS (
  SELECT COUNT(CASE WHEN is_ref THEN 1 END) AS t_ref,
         COUNT(CASE WHEN NOT is_ref THEN 1 END) AS t_cur
  FROM scored
)
SELECT bucket, n_ref, n_cur,
       ROUND(((n_ref + 0.5) / (t_ref + 0.5 * {PSI_BUCKETS})
            - (n_cur + 0.5) / (t_cur + 0.5 * {PSI_BUCKETS}))
             * ln(((n_ref + 0.5) / (t_ref + 0.5 * {PSI_BUCKETS}))
                / ((n_cur + 0.5) / (t_cur + 0.5 * {PSI_BUCKETS}))), 4) AS psi_component
FROM cells CROSS JOIN tot
"""


QUERIES = {
    "text_quality_psi": text_quality_psi,
    "text_bpe_roundtrip": text_bpe_roundtrip,
    "text_chunk_udtf": text_chunk_udtf,
    "text_novelty_decay": text_novelty_decay,
    "text_bigram_lm_score": text_bigram_lm_score,
    "text_lang_id": text_lang_id,
    "text_chunk_documents": text_chunk_documents,
    "text_chunk_dedup_stats": text_chunk_dedup_stats,
    "text_vocab_topk": text_vocab_topk,
    "text_zipf_profile": text_zipf_profile,
    "text_sentiment": text_sentiment,
    "text_pii_redaction": text_pii_redaction,
    "text_tfidf_topterms": text_tfidf_topterms,
    "text_repetition_ratio": text_repetition_ratio,
    "text_quality_score": text_quality_score,
    "text_token_count": text_token_count,
    "text_fingerprint": text_fingerprint,
    "text_unigram_lm_score": text_unigram_lm_score,
    "text_perplexity_buckets": text_perplexity_buckets,
    "text_quality_terciles": text_quality_terciles,
    "text_bigram_pairs": text_bigram_pairs,
    "text_bpe_train": text_bpe_train,
    "text_bpe_encode": text_bpe_encode,
    "text_gopher_quality": text_gopher_quality,
    "text_hashed_tf": text_hashed_tf,
    "text_corpus_datasheet": text_corpus_datasheet,
    "text_lang_confusion": text_lang_confusion,
    "text_quality_dedup_interaction": text_quality_dedup_interaction,
}
