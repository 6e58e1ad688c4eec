"""Deduplication family over ``documents`` / ``embeddings``
(SURVEY.md §2.3 T1-T5): the core of any LLM training-data pipeline.

Scale design, per variant:
- exact (T1): hash-groupBy — one shuffle on the content hash; the
  hash is computed scan-side so only (hash, id) moves.
- n-gram Jaccard (T4): the exact-pair baseline. The shingle self-join
  is quadratic in documents-per-shingle — correct at validation
  scale, and the reference point the sketch variants are judged
  against. At 100 TB you run T2 instead.
- MinHash+LSH (T2): the scale path — O(n) signatures, banded bucket
  join generates only probable-pair candidates, exact verification
  only on candidates. Band/row counts tune recall vs shuffle volume
  ((1 - j^r)^b miss probability).
- SimHash (T3): constant-size 60-bit fingerprint per doc; banded
  hamming candidates; one bigint per doc crosses the shuffle.
- embedding cosine (T5): semantic near-dup; brute-force pair join
  as the correctness baseline, hyperplane-bucketed threshold pairs
  (dedup_embedding_lsh_pairs, reusing similarity.py's LSH tables)
  as the scale path.

Hashes that must agree with the DuckDB oracle are md5 hex strings
(portable); engine-internal steps (simhash) may use xxhash64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from proceso_de_etl_spark.functions.hashing import md5_int, md5_int_sql
from proceso_de_etl_spark.functions.text import shingles, shingles_sql, tokens, tokens_sql
from proceso_de_etl_spark.sources.catalog import load_table
from proceso_de_etl_spark.sources.local import local_frame

ORACLES: dict[str, str] = {}

_TOKS_SQL = tokens_sql("text")
_SH_SQL = shingles_sql(_TOKS_SQL)

JACCARD_THRESHOLD = 0.8


# One persisted shingle set per (session, sf_dir): every dedup
# variant (Jaccard, MinHash, decontaminate, the CC/keep-best chains)
# consumes the same (doc_id, sh) table, and before this cache each
# caller persisted its own structurally-identical copy — Spark's
# CacheManager deduplicates the storage but logs "Asked to cache
# already cached data" per extra persist (visible in the r3 bench
# tail). The cache hands every consumer the SAME DataFrame object;
# ``unpersist_shingles()`` releases storage when a consumer batch
# (bench suite, test session) finishes.
_SHINGLE_CACHE: dict[tuple[str, str], DataFrame] = {}


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) exploded distinct shingle sets — persisted,
    memoized per (applicationId, sf_dir).

    Tokens are materialized through a projection boundary first:
    inlining ``tokens(text)`` into the shingle lambda re-runs the
    regex split once per shingle (measured 6s → 0.5s at sf0.1).
    CollapseProject keeps the boundary because the alias is
    referenced more than once."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _SHINGLE_CACHE.get(key)
    if hit is not None:
        # re-pin when an external spark.catalog.clearCache() dropped
        # the storage without going through unpersist_shingles — the
        # same guard cachereg.memo / ml._repin carry (r8 advisor)
        if not hit.storageLevel.useMemory and not hit.storageLevel.useDisk:
            hit.persist()
        return hit
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    sh = toks.select(
        "doc_id", F.explode(F.array_distinct(shingles(F.col("toks")))).alias("sh")
    ).persist()
    _SHINGLE_CACHE[key] = sh
    return sh


def unpersist_shingles() -> None:
    """Release every cached shingle set. Call when a batch of dedup
    consumers finishes (bench.py does, end of suite); safe to call on
    a stopped session."""
    for df in _SHINGLE_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass  # session already gone — storage went with it
    _SHINGLE_CACHE.clear()


def exact_jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact pair Jaccard from an exploded (doc_id, sh) set table."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("a"), "sh")
    b = sh.select(F.col("doc_id").alias("b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb")), "b")
        .withColumn("jaccard", F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — exact dedup, keep-first (lowest doc_id). The corpus is
    documents plus re-keyed copies of every 10th doc (the testdata
    has no verbatim dups; the synthesized view makes keep-first
    observable and is reproducible in the oracle)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    hashed = corpus.select("doc_id", F.md5(F.lower("text")).alias("content_hash"))
    return hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("n_copies")
    )


ORACLES["dedup_exact"] = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
)
SELECT md5(lower(text)) AS content_hash,
       MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_copies
FROM corpus GROUP BY 1
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 — exact 3-gram Jaccard near-dup pairs (j >= 0.8)."""
    return exact_jaccard_pairs(_doc_shingles(spark, sf_dir), JACCARD_THRESHOLD)


ORACLES["dedup_ngram_jaccard"] = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SH_SQL})) AS sh FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT a, b, ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {JACCARD_THRESHOLD}
"""

# 8 bands × 4 rows: tuned so recall holds right down to the verify
# threshold j = 0.8, not just for obvious dups. Per-band collision is
# j^4 — at the j=0.8 edge, miss = (1-0.41)^8 ≈ 1.5% (vs ~47% for
# 8-row bands, which is exactly where the 4×8 config lost pairs at
# sf0.1: measured 6 misses, all j ≤ 0.92). Wider bands risk false
# candidates (unrelated word-salad pairs collide at j^4 ≈ 0.4%/band),
# but measured on this corpus the candidate set equals the true pair
# set at both sf0.01 and sf0.1 (25/25 and 256/256) with no runtime
# cost — verification work is O(candidates), which stays tiny.
MINHASH_PERMS = 32
LSH_BANDS = 8  # 8 bands x 4 rows

# Portable universal-hash family h_i(x) = (a_i*x + b_i) mod P over a
# base value derived from md5 — identical arithmetic in Spark and
# DuckDB, so the ORACLE reproduces signatures (and therefore the LSH
# candidate set and the verified pair set) bit-for-bit. P = 2^31 - 1
# keeps a_i*base < 2^62: no 64-bit overflow on either engine (both
# would raise: Spark in ANSI mode, the default get_spark keeps, with
# ARITHMETIC_OVERFLOW, DuckDB with an out-of-range error). Constants
# come from a fixed-seed LCG, not random.Random (whose randrange
# changed across Python versions).
_MH_P = 2147483647


def _lcg_pairs(n: int, seed: int = 0x5EED) -> tuple[tuple[int, int], ...]:
    x, vals = seed, []
    for _ in range(2 * n):
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 64)
        vals.append(x % (_MH_P - 2) + 1)  # in [1, P-2]: never the zero map
    return tuple((vals[2 * i], vals[2 * i + 1]) for i in range(n))


MINHASH_AB = _lcg_pairs(MINHASH_PERMS)

# md5 prefix of 15 hex chars = 60 bits: fits BIGINT/UBIGINT exactly
_MH_BASE_SQL = f"{md5_int_sql('sh', 15)} % {_MH_P}"


def minhash_signatures(sh: DataFrame, n_perms: int = MINHASH_PERMS) -> DataFrame:
    """One minhash per hash-family member: min((a_i*base + b_i) mod P)
    per doc, base = md5-derived 60-bit value mod P — the classic
    k-hash-functions construction; one aggregation pass computes all
    k. One md5 per shingle feeds all k members (32 separate md5 calls
    would be ~5x slower, measured), and the family is portable: the
    DuckDB oracle replays the identical signatures."""
    base = md5_int(F.col("sh"), 15) % _MH_P
    aggs = [
        F.min((F.lit(a).cast("bigint") * base + F.lit(b)) % _MH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_AB[:n_perms])
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(sigs: DataFrame, n_perms: int = MINHASH_PERMS, bands: int = LSH_BANDS) -> DataFrame:
    """Band the signature, key each band by the joined signature
    values, bucket-join: only docs agreeing on a full band ever meet —
    the O(n²) pair space never materializes. The band key is the
    plain 'v0|v1|...' string (not an engine-internal hash) so the
    oracle's bucket join sees identical keys."""
    rows = n_perms // bands
    band_cols = [
        F.concat_ws(
            "|", *[F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)]
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sigs.select("doc_id", *band_cols)
    stacked = banded.select(
        "doc_id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("sig")) for b in range(bands)])
        ).alias("bs"),
    ).select("doc_id", "bs.band_idx", "bs.sig")
    x = stacked.select(F.col("doc_id").alias("a"), "band_idx", "sig")
    y = stacked.select(F.col("doc_id").alias("b"), "band_idx", "sig")
    return (
        x.join(y, ["band_idx", "sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def verify_candidate_jaccard(
    sh: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard computed ONLY for candidate pairs: candidates
    join to each side's shingle set, intersection counted per pair.
    This is the step that keeps LSH linear — the all-pairs join never
    happens; work is O(candidates × shingles-per-doc)."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a_sh = sh.select(F.col("doc_id").alias("a"), "sh")
    b_sh = sh.select(F.col("doc_id").alias("b"), "sh")
    inter = (
        candidates.join(a_sh, "a")
        .join(b_sh, ["b", "sh"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb")), "b")
        .withColumn("jaccard", F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — MinHash + LSH near-dup: signatures → banded candidates →
    exact Jaccard verification on candidates only. The hash family is
    the portable md5-based one (MINHASH_AB), so the DuckDB oracle
    replays signatures → bands → candidates → verified pairs
    bit-for-bit: recall stays probabilistic in general, but for a
    FIXED family the output is deterministic and value-checkable."""
    # the shingle set feeds three subtrees (signatures, verification
    # sides, sizes) — the memoized persist means tokenization runs
    # once, not four times (and once across the whole dedup family)
    sh = _doc_shingles(spark, sf_dir)
    candidates = lsh_candidate_pairs(minhash_signatures(sh))
    return verify_candidate_jaccard(sh, candidates, JACCARD_THRESHOLD)


def _mh_common_ctes() -> str:
    """Shared CTE prefix: shingles → md5 base → 32 portable minhash
    signatures → stacked band keys (the 'v0|v1|...' string form the
    Spark side uses)."""
    rows = MINHASH_PERMS // LSH_BANDS
    sig_cols = ",\n         ".join(
        f"MIN(({a} * base + {b}) % {_MH_P}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_AB)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {idx} AS band_idx, concat_ws('|', {cols}) AS sig FROM sigs".format(
            idx=b,
            cols=", ".join(f"mh{b * rows + r}" for r in range(rows)),
        )
        for b in range(LSH_BANDS)
    )
    return f"""sh AS (
  SELECT doc_id, unnest(list_distinct({_SH_SQL})) AS sh FROM documents
),
hx AS (
  SELECT doc_id, sh, {_MH_BASE_SQL} AS base FROM sh
),
sigs AS (
  SELECT doc_id,
         {sig_cols}
  FROM hx GROUP BY doc_id
),
bands AS (
  {band_selects}
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)"""


def _mh_verify_tail(select_cols: str) -> str:
    """Exact-Jaccard verification over `cand` (a, b) pairs."""
    return f"""inter AS (
  SELECT c.a, c.b, COUNT(*) AS inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.a
  JOIN sh y ON y.doc_id = c.b AND y.sh = x.sh
  GROUP BY c.a, c.b
)
SELECT {select_cols},
       ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {JACCARD_THRESHOLD}"""


def _minhash_oracle_sql() -> str:
    return f"""
WITH {_mh_common_ctes()},
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.sig = y.sig AND x.doc_id < y.doc_id
),
{_mh_verify_tail("a, b")}
"""


def _minhash_incremental_oracle_sql() -> str:
    return f"""
WITH {_mh_common_ctes()},
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.sig = y.sig
  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0
),
{_mh_verify_tail("a AS batch_doc_id, b AS corpus_doc_id")}
"""


ORACLES["dedup_minhash_lsh"] = _minhash_oracle_sql()
ORACLES["dedup_incremental_minhash"] = _minhash_incremental_oracle_sql()


SIMHASH_BITS = 60
SIMHASH_BANDS = 4
# Tight by design: word-salad docs share vocabulary, so loose radii
# (hamming 10 ≈ 2.5k pairs at 500 docs) drown in false positives.
HAMMING_MAX = 3


def simhash_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash: per-token portable hash (md5-derived 60-bit
    int — the dedup_minhash_lsh portability discipline, so the
    DuckDB oracle replays fingerprints exactly), each bit position
    votes +count/-count, sign → bit. The hash is materialized ONCE
    per (doc, token) row through a projection boundary; the 60 bit
    tests then read the column (inlined, each aggregate would
    re-evaluate the md5). One groupBy(doc) computes all bits."""
    tok = df.select("doc_id", F.explode(tokens(F.col(text_col))).alias("tok"))
    counted = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    hashed = counted.select(
        "doc_id",
        "cnt",
        md5_int(F.col("tok"), 15).alias("hb"),
    )
    h = F.col("hb")
    bit_sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(h.bitwiseAND(F.lit(1 << i)) != 0, F.col("cnt")).otherwise(-F.col("cnt"))
            ).alias(f"s{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    fp: Column = F.lit(0).cast("bigint")
    for i in range(SIMHASH_BITS):
        fp = fp + F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return bit_sums.select("doc_id", fp.alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 — SimHash near-dup: banded 15-bit buckets propose
    candidates, hamming distance <= HAMMING_MAX confirms. Value-
    oracled: with the portable hash family the fingerprints, band
    buckets, and confirmed pairs are all integer-deterministic, so
    DuckDB replays the whole chain (recall stays probabilistic in
    general; for the FIXED family the output is exact)."""
    docs = load_table(spark, sf_dir, "documents")
    fps = simhash_fingerprints(docs)
    width = SIMHASH_BITS // SIMHASH_BANDS
    stacked = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright("simhash", b * width).bitwiseAND(F.lit((1 << width) - 1)).alias("sig"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "simhash", "bs.band_idx", "bs.sig")
    x = stacked.select(F.col("doc_id").alias("a"), F.col("simhash").alias("fa"), "band_idx", "sig")
    y = stacked.select(F.col("doc_id").alias("b"), F.col("simhash").alias("fb"), "band_idx", "sig")
    pairs = (
        x.join(y, ["band_idx", "sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "fa", "fb")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("bigint"))
        .filter(F.col("hamming") <= HAMMING_MAX)
    )
    return pairs.select("a", "b", "hamming")


def _simhash_oracle_sql() -> str:
    width = SIMHASH_BITS // SIMHASH_BANDS
    s_cols = ",\n         ".join(
        f"SUM(CASE WHEN (hb >> {i}) & 1 = 1 THEN cnt ELSE -cnt END) AS s{i}"
        for i in range(SIMHASH_BITS)
    )
    fp_sum = "\n         + ".join(
        f"CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, simhash, {b} AS band_idx,"
        f" (simhash >> {b * width}) & {(1 << width) - 1} AS sig FROM fp"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
),
counted AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
hashed AS (
  SELECT doc_id, cnt,
         {md5_int_sql("tok", 15)} AS hb
  FROM counted
),
bitsums AS (
  SELECT doc_id,
         {s_cols}
  FROM hashed GROUP BY doc_id
),
fp AS (
  SELECT doc_id,
         {fp_sum} AS simhash
  FROM bitsums
),
bands AS (
  {band_selects}
)
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
FROM bands x JOIN bands y
  ON x.band_idx = y.band_idx AND x.sig = y.sig AND x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= {HAMMING_MAX}
"""


ORACLES["dedup_simhash"] = _simhash_oracle_sql()


# The synthetic embeddings carry no planted near-dups (max pairwise
# cosine ≈ 0.51 at sf0.01); 0.45 selects the top tail so the operator
# has observable output. Production near-dup would use 0.9+.
COSINE_THRESHOLD = 0.45


def dot_cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine from float32 arrays, computed in double end-to-end
    (float32 kernels — e.g. DuckDB's list_dot_product — drift too far
    for stable comparison; measured during design)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return dot / (norm_a * norm_b)


def with_norm(df: DataFrame, col: str = "embedding") -> DataFrame:
    return df.withColumn(
        "norm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col(col), lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 — semantic near-dup: embedding pairs with cosine >=
    threshold. Brute-force all-pairs theta join — the CORRECTNESS
    BASELINE / oracle twin only; the registered scale path is
    ``dedup_embedding_lsh_pairs`` (hyperplane-bucketed candidates),
    because this O(n²) join cannot survive 100 TB."""
    emb = with_norm(load_table(spark, sf_dir, "embeddings"))
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"), F.col("norm").alias("na"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"), F.col("norm").alias("nb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("cosine", dot_cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")))
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )


# Oracle prelude shared by every embedding oracle: one row per
# (vector, element) in double, and each vector's L2 norm.
EMB_ELEMS_CTES = """elems AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(SUM(x * x)) AS norm FROM elems GROUP BY vec_id)"""


ORACLES["dedup_embedding_cosine"] = f"""
WITH {EMB_ELEMS_CTES},
dots AS (
  SELECT ea.vec_id AS a, eb.vec_id AS b, SUM(ea.x * eb.x) AS dot
  FROM elems ea JOIN elems eb ON ea.i = eb.i AND ea.vec_id < eb.vec_id
  GROUP BY ea.vec_id, eb.vec_id
)
SELECT a, b, ROUND(dot / (na.norm * nb.norm), 6) AS cosine
FROM dots JOIN norms na ON na.vec_id = a JOIN norms nb ON nb.vec_id = b
WHERE dot / (na.norm * nb.norm) >= {COSINE_THRESHOLD}
"""

def dedup_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 scale path — semantic near-dup THRESHOLD PAIRS via
    random-hyperplane bucketing: each vector hashes into N_TABLES
    independent sign-buckets (similarity.py's tables — deterministic
    md5-seeded planes, no RNG), candidate pairs come from a per-
    (table, bucket) self-equi-join, and exact cosine verifies only
    the candidates. This replaces ``dedup_embedding_cosine``'s
    all-pairs theta join as the registered scale path: the O(n²)
    pair space never materializes — work is O(n · tables) hashing
    plus O(candidates) verification, all equi-joins.

    Value-oracled: the ±1 planes are md5-derived (portable), so the
    DuckDB oracle replays buckets → candidates → verified pairs for
    the FIXED plane family (recall vs the brute-force twin stays
    probabilistic in general and is test-pinned separately;
    precision is exactly 1 because every emitted pair is
    cosine-verified)."""
    from proceso_de_etl_spark.operators.similarity import with_lsh_tables

    emb = with_norm(load_table(spark, sf_dir, "embeddings"))
    tabled = with_lsh_tables(emb).select("vec_id", "table_idx", "bucket")
    x = tabled.select(F.col("vec_id").alias("a"), "table_idx", "bucket")
    y = tabled.select(F.col("vec_id").alias("b"), "table_idx", "bucket")
    candidates = (
        x.join(y, ["table_idx", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    av = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"), F.col("norm").alias("na"))
    bv = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"), F.col("norm").alias("nb"))
    return (
        candidates.join(av, "a")
        .join(bv, "b")
        .withColumn("cosine", dot_cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")))
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )


# Hyperplane-dot scale: 2^48. Weights are exactly ±1 and every gate
# embedding element is a float32 whose value×2^48 is an exact BIGINT,
# so the scaled dot is exact integer arithmetic on both engines.
# Shared protocol constants between this oracle CTE block and
# similarity.with_lsh_tables (which imports them from here — dedup
# must not import similarity back).
DOT_SCALE = 1 << 48
N_TABLES = 16  # independent hash tables (union of candidates)
PLANES_PER_TABLE = 5  # 2^5 = 32 buckets per table
EMB_DIM = 64


def sql_matrix_values(rows, sql_type: str = "DOUBLE", key: str = "") -> str:
    """VALUES body for a pinned matrix: one ``(key i, [v, ...]::T[])``
    row per matrix row, where ``key`` prefixes the row index (the PQ
    codebooks key by ``"m, "``). repr() renders each Python double at
    full precision, so both engines parse identical values."""
    return ",\n         ".join(
        "(%s%d, [%s]::%s[])" % (key, i, ", ".join(repr(v) for v in r), sql_type)
        for i, r in enumerate(rows)
    )


def lsh_bucket_ctes(n_tables: int, planes_per_table: int, emb_dim: int) -> str:
    """Shared oracle CTE block: embeddings exploded, norms, the
    md5-derived ±1 hyperplane grid (recomputed IN SQL from the same
    'plane:t:j:i' strings _plane_weights hashes — no 5120-row
    literal), per-(vec, table, plane) dots, and the packed bucket
    ids.

    The hyperplane dot is an EXACT scaled-integer sum (r7 verdict
    item 5, retiring the r6 advisor's float-sum-order assumption):
    weights are exactly ±1 and every gate embedding element is a
    float32 whose value×2^48 is an exact BIGINT (smallest |x| ≈
    2.5e-6 ⇒ ulp ≥ 2^-48; integrality MEASURED in tests/
    test_properties.py), so the bucket bit is decided by identical
    integer arithmetic on both engines regardless of SUM order —
    mirrors with_lsh_tables (similarity.py), which imports
    DOT_SCALE from here."""
    return f"""{EMB_ELEMS_CTES},
grid AS (
  SELECT t.t AS table_idx, j.j AS plane, i.i AS i,
         CASE WHEN {md5_int_sql("'plane:' || t.t || ':' || j.j || ':' || i.i", 2)} % 2 = 0
              THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS w
  FROM range({n_tables}) t(t), range({planes_per_table}) j(j), range({emb_dim}) i(i)
),
dots AS (
  SELECT e.vec_id, g.table_idx, g.plane,
         SUM(CAST(ROUND(e.x * {DOT_SCALE}) AS BIGINT) * g.w) AS dot
  FROM elems e JOIN grid g ON g.i = e.i - 1
  GROUP BY 1, 2, 3
),
buckets AS (
  SELECT vec_id, table_idx,
         CAST(SUM(CASE WHEN dot > 0 THEN 1 << plane ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY 1, 2
)"""


def _embedding_lsh_pairs_oracle_sql() -> str:
    return f"""
WITH {lsh_bucket_ctes(N_TABLES, PLANES_PER_TABLE, EMB_DIM)},
cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM buckets x JOIN buckets y
    ON x.table_idx = y.table_idx AND x.bucket = y.bucket AND x.vec_id < y.vec_id
),
scored AS (
  SELECT cd.a, cd.b, SUM(ea.x * eb.x) / (na.norm * nb.norm) AS cosine
  FROM cand cd
  JOIN elems ea ON ea.vec_id = cd.a
  JOIN elems eb ON eb.vec_id = cd.b AND eb.i = ea.i
  JOIN norms na ON na.vec_id = cd.a
  JOIN norms nb ON nb.vec_id = cd.b
  GROUP BY 1, 2, na.norm, nb.norm
)
SELECT a, b, ROUND(cosine, 6) AS cosine
FROM scored WHERE cosine >= {COSINE_THRESHOLD}
"""


ORACLES["dedup_embedding_lsh_pairs"] = _embedding_lsh_pairs_oracle_sql()


CC_MAX_ITER = 50


CC_DRIVER_MAX_EDGES = 200_000


def connected_components(
    edges: DataFrame,
    max_iter: int = CC_MAX_ITER,
    driver_max_edges: int = CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """Min-label propagation over an undirected edge list → (id,
    cluster) with cluster = smallest member id. Each iteration is one
    join + one aggregate; the loop runs TO FIXPOINT — it stops the
    first iteration in which no label changes — so a chain of any
    length labels correctly (matching the oracle's full transitive
    closure); ``max_iter`` is only a safety bound against a
    pathological input. Near-dup clusters are shallow, so in practice
    this converges in 1-3 iterations — the fixpoint check is one tiny
    aggregate over the already-checkpointed node set.

    Adaptive small-graph fast path (same idea as the broadcast-join
    threshold): the EDGE LIST of a near-dup graph is usually tiny
    even when the corpus is not — pair generation already bounded it.
    When it fits under ``driver_max_edges`` the materialized edges
    union-find on the driver in one pass (identical labels by
    construction: label = min member id), skipping 1-3 rounds of
    join + checkpoint + fixpoint-count jobs (~4-5 s of fixed cost per
    call at any data size). Above the threshold — the 100 TB regime —
    the distributed loop runs unchanged; equality of the two paths is
    test-pinned, and the gate threshold is a parameter so tests
    exercise both.

    This is the canonical way dedup PAIRS become dedup GROUPS (keep
    one representative per cluster, drop the rest)."""
    # persist the (possibly expensive) edge subtree — the loop
    # references it every iteration; without this the full upstream
    # plan (e.g. the Jaccard self-join) re-executes ~2x per iteration
    sym = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).persist()
    n_sym = sym.count()  # materializes the persist; the loop needs it anyway
    if n_sym <= 2 * driver_max_edges:
        id_type = edges.schema["a"].dataType.simpleString()
        pairs = sym.collect()  # bounded by the threshold, not the corpus
        sym.unpersist()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in pairs:
            a, b = r.src, r.dst
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        label: dict = {}
        for node in parent:
            root = find(node)
            if root not in label or node < label[root]:
                label[root] = node
        rows = [(node, label[find(node)]) for node in parent]
        return local_frame(
            edges.sparkSession,
            rows, f"doc_id {id_type}, cluster {id_type}"
        )
    nodes = sym.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    for _ in range(max_iter):
        neigh = (
            sym.join(nodes, sym.dst == nodes.id)
            .groupBy("src")
            .agg(F.min("label").alias("neighbor_min"))
        )
        # localCheckpoint TRUNCATES the logical plan each iteration —
        # persist() alone is not enough: the plan doubles per step
        # (nodes referenced twice) and analysis time goes exponential
        # (measured 1.3s → 60s by iteration 5 with persist only).
        nodes = (
            nodes.join(neigh, nodes.id == neigh.src, "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("label"), F.coalesce(F.col("neighbor_min"), F.col("label"))
                ).alias("new_label"),
                F.col("label").alias("old_label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = nodes.filter(F.col("new_label") != F.col("old_label")).limit(1).count()
        nodes = nodes.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    # the loop is the only consumer of the edge set, and nodes is
    # eagerly checkpointed — releasing sym here cannot trigger a
    # recompute downstream
    sym.unpersist()
    return nodes.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster"))


def dedup_connected_components(
    spark: SparkSession, sf_dir: str, near_dup: str = "lsh"
) -> DataFrame:
    """T4b — near-dup pairs → clusters: every doc in a dup cluster
    labeled with the cluster's smallest doc_id (the survivor).

    The edge generator is the LSH path (banded equi-join — linear),
    not the quadratic exact self-join; the DuckDB oracle computes the
    transitive closure over the EXACT pairs, which stays hash-green
    because the two pair sets are identical on the gate data
    (deterministic, pinned by test_lsh_pairs_match_exact_at_gate_sf).
    ``near_dup="exact"`` keeps the quadratic twin callable."""
    if near_dup == "lsh":
        pairs = dedup_minhash_lsh(spark, sf_dir).select("a", "b")
    else:
        pairs = dedup_ngram_jaccard(spark, sf_dir).select("a", "b")
    return connected_components(pairs)


ORACLES["dedup_connected_components"] = f"""
WITH pairs AS (
  SELECT a, b FROM ({ORACLES["dedup_ngram_jaccard"].strip()})
),
edges AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
  )
  SELECT * FROM r
)
SELECT src AS doc_id, least(src, MIN(dst)) AS cluster
FROM reach GROUP BY src
"""

def _stop_hits_en_sql() -> str:
    from proceso_de_etl_spark.functions.text import STOPWORDS, stop_hits_sql

    return stop_hits_sql(_TOKS_SQL, STOPWORDS["en"])


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup: within each near-dup cluster keep the
    HIGHEST-quality member (not the lowest id) — what a real corpus
    pipeline does, composing clustering with the quality scorer.
    Ties break to the lower doc_id. Inherits the LSH edge path from
    dedup_connected_components (scale-linear end to end)."""
    from pyspark.sql import Window as W

    from proceso_de_etl_spark.operators.text_analysis import text_quality_score

    clusters = dedup_connected_components(spark, sf_dir)
    quality = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    w = W.partitionBy("cluster").orderBy(F.desc("quality_score"), F.asc("doc_id"))
    return (
        clusters.join(quality, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .select(
            "cluster",
            "doc_id",
            "quality_score",
            (F.col("rk") == 1).alias("kept"),
        )
    )


ORACLES["dedup_keep_best"] = f"""
WITH clusters AS ({ORACLES["dedup_connected_components"].strip()}),
quality AS (
  SELECT doc_id,
         ROUND(0.4 * least(CAST(len({_TOKS_SQL}) AS DOUBLE) / 64.0, 1.0)
             + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
                            / greatest(CAST(length(text) AS DOUBLE), 1.0))
             + 0.3 * least(CAST({_stop_hits_en_sql()} AS DOUBLE)
                           / greatest(CAST(len({_TOKS_SQL}) AS DOUBLE), 1.0) * 4.0, 1.0), 6) AS quality_score
  FROM documents
)
SELECT cluster, c.doc_id, quality_score,
       row_number() OVER (PARTITION BY cluster
                          ORDER BY quality_score DESC, c.doc_id ASC) = 1 AS kept
FROM clusters c JOIN quality q ON c.doc_id = q.doc_id
"""

DECONTAM_MIN_SHARED = 2  # shared distinct shingles to flag a pair
# Shingles present in more documents than this are boilerplate, not
# contamination evidence — and they are the scale-killer: one shingle
# shared by d_t train × d_e eval docs lands d_t·d_e joined rows on a
# single shuffle key. The cap bounds per-shingle join fan-out to
# DECONTAM_MAX_SHINGLE_DF² regardless of corpus size.
DECONTAM_MAX_SHINGLE_DF = 100


def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T19 — benchmark decontamination: find TRAIN documents that
    share n-gram content with an EVAL/benchmark set (every 50th doc
    stands in for the benchmark) — the step that keeps test data out
    of a training corpus. A shingle equi-join between the two sides:
    only (doc, shingle) pairs that collide ever meet, no pairwise
    scan of train × eval.

    Scale: the eval side is a BENCHMARK — bounded (thousands of
    docs), unlike the train side; the join key is the shingle, so the
    train side streams through one shuffle partitioned by shingle
    hash. Ubiquitous shingles are dropped BEFORE the join (document
    frequency > DECONTAM_MAX_SHINGLE_DF over the full corpus): the
    DF count partial-aggregates map-side, so no single key ever
    concentrates rows, and the join's worst key fans out to at most
    DF_cap² rows. Output: flagged (train, eval) pairs with their
    shared rare-shingle count ≥ DECONTAM_MIN_SHARED."""
    sh = _doc_shingles(spark, sf_dir)
    rare = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= DECONTAM_MAX_SHINGLE_DF)
        .select("sh")
    )
    sh = sh.join(rare, "sh")
    eval_sh = sh.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "sh"
    )
    train_sh = sh.filter(F.col("doc_id") % 50 != 0).select(
        F.col("doc_id").alias("train_doc_id"), "sh"
    )
    return (
        train_sh.join(eval_sh, "sh")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= DECONTAM_MIN_SHARED)
    )


ORACLES["dedup_decontaminate"] = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SH_SQL})) AS sh FROM documents
),
rare AS (
  SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= {DECONTAM_MAX_SHINGLE_DF}
),
sh_r AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare r ON s.sh = r.sh)
SELECT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id, COUNT(*) AS n_shared
FROM sh_r t JOIN sh_r e ON t.sh = e.sh
WHERE t.doc_id % 50 <> 0 AND e.doc_id % 50 = 0
GROUP BY 1, 2
HAVING COUNT(*) >= {DECONTAM_MIN_SHARED}
"""


# containment floor for flagging: 5% of an eval doc's rare shingles
# appearing in one train doc is already far above incidental overlap
# (the observed incidental tail is ≤3-4%); a verbatim inclusion scores
# 1.0 regardless of how much OTHER text the train doc carries.
CONTAIN_MIN = 0.05


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T26 — containment-scored decontamination: the ASYMMETRIC
    overlap measure |train ∩ eval| / |eval| per pair — "how much of
    the benchmark doc is inside this training doc". Jaccard (T4) and
    shared-count (T19) both under-flag the classic leak where a short
    eval item is quoted inside a long web document: the union term
    (Jaccard) or the raw count (T19) stays small while containment
    hits 1.0. Same scale shape as T19 — DF-capped rare shingles,
    equi-join on the shingle, bounded per-key fan-out — plus one
    broadcast-sized join against the eval side's shingle counts
    (the eval set is a bounded benchmark). Denominator = the eval
    doc's RARE shingles (post-cap), so the score is exactly 1.0 on
    verbatim inclusion under the same filter both sides see."""
    sh = _doc_shingles(spark, sf_dir)
    rare = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= DECONTAM_MAX_SHINGLE_DF)
        .select("sh")
    )
    sh = sh.join(rare, "sh")
    eval_sh = sh.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "sh"
    )
    train_sh = sh.filter(F.col("doc_id") % 50 != 0).select(
        F.col("doc_id").alias("train_doc_id"), "sh"
    )
    eval_size = eval_sh.groupBy("eval_doc_id").agg(F.count("*").alias("eval_nsh"))
    pairs = (
        train_sh.join(eval_sh, "sh")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        pairs.join(F.broadcast(eval_size), "eval_doc_id")
        .withColumn(
            "containment",
            F.round(F.col("n_shared").cast("double") / F.col("eval_nsh"), 6),
        )
        .filter(F.col("containment") >= CONTAIN_MIN)
        .select("train_doc_id", "eval_doc_id", "n_shared", "containment")
        .orderBy(F.desc("containment"), F.asc("train_doc_id"), F.asc("eval_doc_id"))
    )


ORACLES["dedup_containment"] = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SH_SQL})) AS sh FROM documents
),
rare AS (
  SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= {DECONTAM_MAX_SHINGLE_DF}
),
sh_r AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare r ON s.sh = r.sh),
esize AS (
  SELECT doc_id AS eval_doc_id, COUNT(*) AS eval_nsh
  FROM sh_r WHERE doc_id % 50 = 0 GROUP BY 1
),
pairs AS (
  SELECT t.doc_id AS train_doc_id, e.doc_id AS eval_doc_id, COUNT(*) AS n_shared
  FROM sh_r t JOIN sh_r e ON t.sh = e.sh
  WHERE t.doc_id % 50 <> 0 AND e.doc_id % 50 = 0
  GROUP BY 1, 2
)
SELECT train_doc_id, eval_doc_id, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / eval_nsh, 6) AS containment
FROM pairs JOIN esize USING (eval_doc_id)
WHERE ROUND(CAST(n_shared AS DOUBLE) / eval_nsh, 6) >= {CONTAIN_MIN}
ORDER BY containment DESC, train_doc_id ASC, eval_doc_id ASC
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: admit only NEW content from an incoming
    batch, checked against a historical corpus — the shape a
    continuously-ingesting training pipeline runs every cycle (the
    whole-corpus operators re-scan everything; this one touches the
    batch + a fingerprint join).

    Corpus = docs with doc_id % 5 != 0; incoming batch = the rest
    plus re-keyed copies of some corpus docs (planted so the reject
    path is observable, reproducible in the oracle). Two steps, both
    hash-only: (1) collapse the batch internally (keep-first per
    content hash); (2) anti-join survivors against the corpus
    fingerprints. At 100 TB the corpus side is a persisted narrow
    (hash) table — the anti-join shuffles fingerprints, never text,
    and a bucketed fingerprint store makes it co-location-free
    (sources/bucketing.py demonstrates that join shape)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    replayed = corpus.filter(F.col("doc_id") % 20 == 1).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    batch = docs.filter(F.col("doc_id") % 5 == 0).unionByName(replayed)

    fp = F.md5(F.lower("text"))
    corpus_fp = corpus.select(fp.alias("content_hash")).distinct()
    batch_fp = batch.select("doc_id", fp.alias("content_hash"))
    batch_unique = batch_fp.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_in_batch")
    )
    return batch_unique.join(corpus_fp, "content_hash", "left_anti").select(
        "doc_id", "content_hash", "n_in_batch"
    )


def lsh_cross_candidates(sigs_left: DataFrame, sigs_right: DataFrame) -> DataFrame:
    """Banded candidates BETWEEN two disjoint signature sets: only
    left×right bucket-mates meet — the incremental regime where the
    corpus side never pairs with itself (corpus×corpus was settled in
    earlier cycles; re-banding it every cycle is the O(corpus) work
    incremental dedup exists to avoid)."""
    rows = MINHASH_PERMS // LSH_BANDS

    def _stack(sigs: DataFrame, out: str) -> DataFrame:
        # same portable 'v0|v1|...' band key as lsh_candidate_pairs so
        # the DuckDB oracle replays the cross-set candidates too
        band_cols = [
            F.concat_ws(
                "|", *[F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)]
            ).alias(f"band{b}")
            for b in range(LSH_BANDS)
        ]
        banded = sigs.select("doc_id", *band_cols)
        return banded.select(
            F.col("doc_id").alias(out),
            F.explode(
                F.array(*[F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("sig")) for b in range(LSH_BANDS)])
            ).alias("bs"),
        ).select(out, "bs.band_idx", "bs.sig")

    return (
        _stack(sigs_left, "a")
        .join(_stack(sigs_right, "b"), ["band_idx", "sig"])
        .select("a", "b")
        .distinct()
    )


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21 near-dup half: incoming batch (doc_id % 5 == 0) checked
    for NEAR-duplicates against the historical corpus — banded
    minhash candidates between the two sets only, exact Jaccard on
    candidates. Value-oracled like dedup_minhash_lsh: the portable
    hash family lets DuckDB replay the cross-set candidate join
    bit-for-bit; tests additionally pin pair-set equality against
    the exact cross-set twin."""
    sh = _doc_shingles(spark, sf_dir)
    sigs = minhash_signatures(sh)
    batch_sigs = sigs.filter(F.col("doc_id") % 5 == 0)
    corpus_sigs = sigs.filter(F.col("doc_id") % 5 != 0)
    candidates = lsh_cross_candidates(batch_sigs, corpus_sigs)
    return verify_candidate_jaccard(sh, candidates, JACCARD_THRESHOLD).select(
        F.col("a").alias("batch_doc_id"),
        F.col("b").alias("corpus_doc_id"),
        "jaccard",
    )


ORACLES["dedup_incremental"] = """
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000, text FROM corpus WHERE doc_id % 20 = 1
),
batch_unique AS (
  SELECT md5(lower(text)) AS content_hash, MIN(doc_id) AS doc_id,
         COUNT(*) AS n_in_batch
  FROM batch GROUP BY 1
)
SELECT doc_id, content_hash, n_in_batch
FROM batch_unique b
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE md5(lower(c.text)) = b.content_hash)
"""


SPAN_N = 12  # tokens per span: long enough that sharing one is never chance
SPAN_TOPK = 50


def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T32 — exact duplicated-span detection (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" exact-
    substring criterion, shingle-hash form): a SPAN_N-token span
    appearing verbatim in ≥2 documents marks memorization-grade
    duplication that document-level near-dup (T2-T5) under-flags —
    e.g. a long quoted paragraph inside otherwise-distinct pages.
    Suffix arrays are the single-node tool; the distributed shape is
    the same machinery as decontamination (T19): rolling span hashes
    → one equi-groupBy for document frequency → per-doc duplicated
    fraction. Top-SPAN_TOPK most-duplicated docs via the scale-safe
    ranked_topk (TakeOrderedAndProject, no global window). Span
    hashes are md5 (engine-identical); within-doc repeats of a span
    count once (distinct per doc) so the fraction is a document
    property, not a repetition artifact."""
    from proceso_de_etl_spark.operators.windows import ranked_topk

    docs = load_table(spark, sf_dir, "documents")
    # token array MUST materialize through a projection boundary
    # before shingles() references it 12x per span position — inlined,
    # each element_at re-tokenizes the whole document (the SURVEY §7
    # engineering note; measured 87 s -> ~2 s at sf0.1)
    toks_staged = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    staged = toks_staged.select(
        "doc_id", shingles(F.col("toks"), SPAN_N).alias("spans")
    )
    doc_span = (
        staged.select("doc_id", F.explode("spans").alias("s"))
        .select("doc_id", F.md5("s").alias("h"))
        .distinct()
    )
    # document frequency as a KEYED window over the span hash, not a
    # groupBy+join-back: the join form re-computes the whole
    # tokenize+shingle subtree for its probe side (2 FileScans — the
    # dominant cost at 100 TB, twice), while the window does one scan
    # and the same single h-shuffle the join would need anyway. A
    # boilerplate span's doc list funnels through one task either
    # way (bounded by that span's DF — cap ubiquitous spans first,
    # as decontamination does, if that ever dominates).
    from pyspark.sql import Window as W

    flagged = doc_span.withColumn("df", F.count("*").over(W.partitionBy("h")))
    per_doc = (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("n_dup_spans"),
        )
        .withColumn("dup_frac", F.round(F.col("n_dup_spans") / F.col("n_spans"), 4))
    )
    return ranked_topk(
        per_doc, [F.desc("dup_frac"), F.asc("doc_id")], SPAN_TOPK
    ).select("rank", "doc_id", "n_spans", "n_dup_spans", "dup_frac")


_SPAN_SQL = shingles_sql(_TOKS_SQL, SPAN_N)
ORACLES["dedup_duplicate_spans"] = f"""
WITH doc_span AS (
  SELECT DISTINCT doc_id, md5(s) AS h
  FROM (SELECT doc_id, unnest({_SPAN_SQL}) AS s FROM documents)
),
dfc AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM doc_span GROUP BY h),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_spans,
         SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup_spans
  FROM doc_span JOIN dfc USING (h)
  GROUP BY doc_id
)
SELECT CAST(row_number() OVER (ORDER BY ROUND(CAST(n_dup_spans AS DOUBLE) / n_spans, 4) DESC, doc_id ASC) AS BIGINT) AS rank,
       doc_id, n_spans, CAST(n_dup_spans AS BIGINT) AS n_dup_spans,
       ROUND(CAST(n_dup_spans AS DOUBLE) / n_spans, 4) AS dup_frac
FROM per_doc
QUALIFY rank <= {SPAN_TOPK}
"""


def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T38 — corpus source-overlap matrix: pairwise 3-gram shingle-set
    Jaccard (and containment both ways) between every pair of
    document sources — the dataset-level contamination check run
    before mixing corpora into a training blend (T19/T26 answer
    "which DOCUMENTS leak"; this answers "which SOURCES are the same
    data").

    Scale shape: the corpus is touched once to build the DISTINCT
    (source, shingle) set — from there everything is bounded by
    n_sources, not corpus size: per-shingle join fan-out is at most
    n_sources² (each shingle appears once per source after the
    distinct), the size/intersection tables are n_sources(²) rows,
    and the full pair matrix (including zero-overlap pairs) comes
    from a broadcast cross of the tiny per-source size table."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", tokens(F.col("text")).alias("toks"))
    src_sh = toks.select(
        F.col("source").alias("src"), F.explode(shingles(F.col("toks"))).alias("sh")
    ).distinct()
    sizes = src_sh.groupBy("src").agg(F.count("*").alias("n_sh"))
    inter = (
        src_sh.select(F.col("src").alias("src_a"), "sh")
        .join(src_sh.select(F.col("src").alias("src_b"), "sh"), "sh")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    pairs = (
        F.broadcast(sizes.select(F.col("src").alias("src_a"), F.col("n_sh").alias("n_a")))
        .crossJoin(
            F.broadcast(sizes.select(F.col("src").alias("src_b"), F.col("n_sh").alias("n_b")))
        )
        .filter(F.col("src_a") < F.col("src_b"))
        .join(inter, ["src_a", "src_b"], "left")
        .withColumn("n_common", F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint"))
    )
    return pairs.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "n_common",
        F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6).alias("jaccard"),
        F.round(F.col("n_common") / F.col("n_a"), 6).alias("containment_a"),
        F.round(F.col("n_common") / F.col("n_b"), 6).alias("containment_b"),
    )


ORACLES["dedup_source_overlap"] = f"""
WITH src_sh AS (
  SELECT DISTINCT source AS src, sh
  FROM (SELECT source, unnest({_SH_SQL}) AS sh FROM documents)
),
sizes AS (SELECT src, COUNT(*) AS n_sh FROM src_sh GROUP BY src),
inter AS (
  SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_common
  FROM src_sh a JOIN src_sh b USING (sh)
  WHERE a.src < b.src
  GROUP BY a.src, b.src
)
SELECT sa.src AS src_a, sb.src AS src_b,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(COALESCE(i.n_common, 0) AS BIGINT) AS n_common,
       ROUND(COALESCE(i.n_common, 0) / (sa.n_sh + sb.n_sh - COALESCE(i.n_common, 0)), 6) AS jaccard,
       ROUND(COALESCE(i.n_common, 0) / sa.n_sh, 6) AS containment_a,
       ROUND(COALESCE(i.n_common, 0) / sb.n_sh, 6) AS containment_b
FROM sizes sa
JOIN sizes sb ON sa.src < sb.src
LEFT JOIN inter i ON i.src_a = sa.src AND i.src_b = sb.src
"""


SEMDEDUP_K = 8  # floor = cells at the sf0.01 gate corpus (~500 vectors)
# k ∝ n, IN CODE (r9): the per-cell pair join costs Σ cell² ≈ n²/k,
# so a fixed k bends the scale curve super-linearly — measured on the
# derived sf1.0 tier: the frozen-k pair stage grew 16.6× per 10×
# rows (SCALE_r09.json) exactly as n²/k predicts. Holding the
# EXPECTED CELL SIZE constant instead makes the stage linear in n
# (10× rows → 10× cells of the same size). TARGET_CELL sets the
# crossover: below it the fit+assignment overhead of more cells
# costs more than the extra pairs save (measured at sf0.1/n=2000:
# cell 64 ⇒ 14.6 s vs cell 250 ⇒ 8.5 s), above it the pair join
# dominates (sf1.0/n=20000: fixed k=8 ⇒ 65 s vs k ∝ n ⇒ 28.6 s).
# 256 keeps every sf ≤ 0.1 corpus on the exact flat path (k floors
# to 8 — gate behavior unchanged) and engages the scale path one
# decade up.
SEMDEDUP_TARGET_CELL = 256  # expected vectors per cell
# Pair-join cell CAP (r10): k ∝ n makes the EXPECTED cell constant,
# but the realized distribution is skewed (sf10 measured: p50 219,
# p99 2056, max 2567 vs target 256 — Σ cell² 2.1× the balanced value,
# and the pair join pays the square). Cells above the cap are
# SUB-SPLIT for the pair join only, by appending
# ⌈log2(count/CAP)⌉ ≤ SUBSIG_BITS sign bits of fixed md5 hyperplanes
# (ml.assign_clusters_lsh's with_subsig output) to the cell key.
# Bit-identical vectors share the subsig by construction, so exact
# dups always stay co-joined; a near-dup pair inside an OVERSIZED
# cell straddles each extra hyperplane with probability θ/π — the
# same bounded-recall trade the LSH assignment already makes,
# engaged only where the alternative is a quadratic cell. Keeper
# resolution and centroid_sim keep the ORIGINAL cluster; only the
# pair join sees sub-split keys.
SEMDEDUP_CELL_CAP = 4 * SEMDEDUP_TARGET_CELL
SEMDEDUP_TAU = COSINE_THRESHOLD


def semdedup_k(n: int) -> int:
    """Cells for an n-vector corpus: n/TARGET_CELL, floored at
    SEMDEDUP_K (paper: k ∝ n; Abbas et al. 2023 use n/⟨cell⟩≈const)."""
    return max(SEMDEDUP_K, n // SEMDEDUP_TARGET_CELL)


def _subsplit_pair_cells(assigned: DataFrame, n_centroids: int) -> DataFrame:
    """Oversized-cell cap (r10, SEMDEDUP_CELL_CAP): append
    ⌈log2(count/CAP)⌉ ≤ SUBSIG_BITS hyperplane sign bits to the
    pair-join key of every cell whose realized population exceeds
    the cap. Input must carry ``cluster`` and ``subsig`` (the
    ml.assign_clusters_lsh with_subsig output — a pure function of
    the vector, so bit-identical vectors always share a pcell).

    Per-cluster counts round-trip the driver (k rows — the accepted
    ∝ k bound of the centroid fit itself); the bit widths ride back
    as a broadcast array and the pcell is one JVM-side expression.
    Measured at sf10 (n=200k, k=781, p50 cell 219 / max 2567):
    Σ cell² was 107.9M ≈ 2.1× the balanced value and the pair join
    was 109 s of the 166 s wall; the cap bounds every DIVERSE pair
    cell near CAP. A cell of n exact duplicates stays quadratic by
    design — identical vectors share every sign bit, and they
    genuinely are all pairs."""
    import math as _math

    from proceso_de_etl_spark.operators.ml import SUBSIG_BITS, with_broadcast_value

    counts = {
        r["cluster"]: r["n"]
        for r in assigned.groupBy("cluster").agg(F.count("*").alias("n")).collect()
    }
    bits_arr = [
        min(
            SUBSIG_BITS,
            max(0, _math.ceil(_math.log2(counts.get(c, 1) / SEMDEDUP_CELL_CAP))),
        )
        if counts.get(c, 0) > SEMDEDUP_CELL_CAP
        else 0
        for c in range(n_centroids)
    ]
    return (
        with_broadcast_value(assigned, bits_arr, "_sb", "array<int>")
        .withColumn(
            "pcell",
            F.col("cluster") * (1 << SUBSIG_BITS)
            + F.col("subsig").bitwiseAND(
                # SQL shiftleft accepts a column bit count; the
                # Python helper only takes an int literal
                F.expr(
                    "cast(shiftleft(1, element_at(_sb, cast(cluster as int) + 1))"
                    " as bigint) - 1"
                )
            ),
        )
        .drop("_sb")
    )


def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T36 — SemDeDup (Abbas et al. 2023): semantic deduplication via
    k-means partitioning. Cluster the embeddings (k-means, driver-held
    centroids — ml.py), form candidate pairs ONLY within clusters,
    threshold on exact cosine, resolve dup groups with connected
    components, and keep per group the member MOST similar to its
    cluster centroid (ties → lower vec_id).

    This is the scale design point of the paper: the quadratic pair
    join is bounded per-cluster (TARGET_CELL rows per cell in
    expectation — k ∝ n via semdedup_k, so the bound holds at every
    corpus size instead of only at the size k was tuned for; the
    fixed-k curve bend is measured in SCALE_r09.json — and, r10,
    bounded in the WORST case too: realized cells above
    SEMDEDUP_CELL_CAP are sub-split for the pair join by hyperplane
    subsig bits, so one skewed cell can never reintroduce the
    quadratic), the cluster
    assignment is one scan against broadcast centroids, and the group
    resolution is the repo's fixpoint CC loop. Centroid matrix and
    norms ride in as broadcast DATA, not literals — at k ∝ n the
    literal form re-pays seconds of Catalyst analysis per invocation
    (the ann_lsh_bucketed lesson). (Rows-only: k-means centroid means
    carry a run-dependent last float ulp, so no cross-engine value
    oracle — the structural invariants are test-pinned: exactly one
    keeper per component, thresholded pairs land in one component,
    singletons keep.)"""
    from proceso_de_etl_spark.operators.ml import (
        assign_clusters,
        assign_clusters_lsh,
        kmeans_fit,
        kmeans_fit_two_level,
        with_broadcast_value,
    )

    emb = with_norm(load_table(spark, sf_dir, "embeddings"))
    n = emb.count()
    k = semdedup_k(n)
    if k == SEMDEDUP_K:
        # gate regime: exact flat fit + exact assignment, byte-for-
        # byte the pre-r9 behavior at the test/driver scale factors
        centroids = kmeans_fit(emb, k=k)
        assigned0 = assign_clusters(emb, centroids).withColumn(
            "subsig", F.lit(0).cast("bigint")
        )
    else:
        # scale regime (k ∝ n): the fit is the two-level
        # coarse-then-refine form — one deterministic sample scan,
        # local vectorized Lloyd (flat distributed k-means measured
        # 70 s at sf1.0/k=312, SCALE_r09.json; the two-level fit is
        # sub-second there) — and assignment is LSH-pruned (per-row
        # work ∝ log k; exact argmin only over bucket-mate
        # candidates). Recall note: only BIT-IDENTICAL vectors are
        # guaranteed co-assigned; near-dup pairs co-assign at a
        # measured 98.6%/88.6% (ε = 0.01/0.1 of ‖x‖, test-pinned
        # floors in test_properties) — the scale regime trades those
        # few points of pair recall for the ∝ log k assignment cost.
        # with_subsig: the sub-split bits the oversized-cell cap
        # below consumes.
        centroids = kmeans_fit_two_level(emb, k)
        assigned0 = assign_clusters_lsh(emb, centroids, with_subsig=True)
    cnorms = [sum(v * v for v in c) ** 0.5 for c in centroids]
    assigned = (
        with_broadcast_value(
            with_broadcast_value(
                assigned0, centroids, "_cm", "array<array<double>>"
            ),
            cnorms,
            "_cn",
            "array<double>",
        )
        .withColumn("_c", F.element_at("_cm", F.col("cluster").cast("int") + 1))
        .withColumn(
            "centroid_sim",
            dot_cosine(
                F.col("embedding"),
                F.col("_c"),
                F.col("norm"),
                F.element_at("_cn", F.col("cluster").cast("int") + 1),
            ),
        )
        .select("vec_id", "cluster", "subsig", "embedding", "norm", "centroid_sim")
        # three consumers (both pair sides + the final labeling) —
        # persist so the assignment expressions (k×dim distance
        # arithmetic) run once; released by the session-level cache
        # clear the bench/tests already perform per pass
        .persist()
    )
    if k == SEMDEDUP_K:
        # gate regime: pair key IS the cluster — byte-identical
        # pre-r9 behavior
        with_pcell = assigned.withColumn("pcell", F.col("cluster"))
    else:
        with_pcell = _subsplit_pair_cells(assigned, len(centroids))
    a = with_pcell.select(
        F.col("vec_id").alias("a"), "pcell", F.col("embedding").alias("ea"), F.col("norm").alias("na")
    )
    b = with_pcell.select(
        F.col("vec_id").alias("b"), "pcell", F.col("embedding").alias("eb"), F.col("norm").alias("nb")
    )
    pairs = (
        a.join(b, "pcell")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", dot_cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")))
        .filter(F.col("cosine") >= SEMDEDUP_TAU)
        .select("a", "b")
    )
    comps = connected_components(pairs).select(
        F.col("doc_id").alias("vec_id"), F.col("cluster").alias("component")
    )
    labeled = assigned.join(comps, "vec_id", "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col("vec_id"))
    )
    best = labeled.groupBy("component").agg(
        F.max(
            F.struct(F.col("centroid_sim").alias("s"), (-F.col("vec_id")).alias("negid"))
        ).alias("bst")
    ).select("component", (-F.col("bst.negid")).cast("bigint").alias("keep_vec"))
    # best is component-count-sized (corpus order at 100 TB) — a
    # plain hash join on component, NOT a broadcast
    return (
        labeled.join(best, "component")
        .withColumn("keep", F.col("vec_id") == F.col("keep_vec"))
        .select(
            "vec_id",
            "cluster",
            "component",
            F.round("centroid_sim", 6).alias("centroid_sim"),
            "keep",
        )
    )




# Frozen k=8 cell centroids for the driver-verifiable SemDeDup
# companion (r6 verdict item 3): fit ONCE by ml.kmeans_fit on the
# sf0.01 embeddings (deterministic — exact-DECIMAL accumulation,
# lowest-k init) and rounded to 6dp so the literals parse to
# identical doubles in Spark and DuckDB. The k-means FIT itself stays
# rows-only in dedup_semantic_semdedup; freezing the cell geometry is
# what makes the PAIR STAGE cross-engine replayable.
SEMDEDUP_PINNED_CENTROIDS: list[list[float]] = [
    [0.018901, 0.009433, 0.035763, -0.089083, -0.011347, -0.011581, -0.018881, 0.019569, 0.067889, -0.022862, -0.02484, 0.009219, -0.025203, -0.009037, -0.018556, -0.010245, 0.064676, 0.023322, 0.024355, 0.035859, -0.059115, 0.014846, -0.006883, -0.012103, 0.011459, 0.069467, 0.082324, -0.002673, -0.015389, 0.067759, -0.03323, 0.059134, 0.006843, -0.04253, 0.001033, -0.046704, -0.019628, 0.021944, 0.018041, 0.002726, 0.00543, 0.008517, 0.007215, 0.007177, 0.018388, 0.029285, 0.02994, -0.035856, -0.007563, -0.051919, -0.006645, 0.033995, 0.011308, -0.047804, 0.020736, 0.02385, -8e-06, 0.00509, -0.081238, -0.020735, -0.01747, 0.044864, 0.047155, -0.030242],
    [-0.026878, -0.013741, 0.021404, 0.011777, 0.026378, 0.033417, -0.098101, -0.025169, -0.011093, 0.00484, -0.052614, 0.052049, 0.054364, -0.087088, 0.027444, 0.009783, -0.008116, -0.013423, 0.028958, -0.041447, 0.032694, 0.026241, -0.010538, -0.026257, 0.021979, 0.069267, -0.004281, -0.0128, 0.015391, -0.006373, -0.03218, -0.00261, -0.008108, 0.013, 0.003873, -0.002887, -0.039609, 0.028037, 0.027918, -0.07347, -0.003838, -0.054459, 0.023645, 0.013084, 0.015022, 0.026301, -0.033525, -0.011812, -0.050262, -0.087969, -0.015377, 0.015053, -0.036444, 0.013401, -0.013063, 0.033574, 0.056505, 0.001927, 0.031367, 0.007149, -0.017904, -0.010894, -0.043155, 0.000225],
    [0.003317, 0.015943, -0.033029, 0.037673, 0.048081, -0.000846, -0.017295, -0.0015, -0.007311, -0.06322, -0.011238, -0.033251, -0.048099, 0.074324, -0.016158, 0.020007, -0.025756, 0.058653, -0.001626, -0.011291, -0.010065, 0.009829, 0.068458, -0.039165, -0.007829, -0.063789, 0.020164, -0.023156, 0.002738, 0.013713, -0.012876, -0.108713, 0.004813, 0.00626, 0.013445, -0.012327, 0.013956, 0.062358, 0.033044, 0.047442, -0.005308, -0.01574, 0.016234, 0.030301, 0.00344, 0.000377, -0.013161, -0.010558, 0.047434, 0.03207, 0.046917, -0.063586, -0.021309, -0.034064, 0.042172, -0.002838, 0.01516, -0.009339, 0.018543, 0.066532, 0.042103, -0.004775, 0.017049, -0.017062],
    [-0.023518, 0.011736, -0.026742, -0.029649, -0.03177, 0.022493, 0.0354, 0.000294, -0.021604, -0.015593, 0.006483, 0.047415, 0.025318, 0.071483, 0.030626, -0.016802, -0.039192, -0.052447, 0.02155, 0.02192, 0.024718, -0.008486, -0.014445, 0.018864, -0.004371, 0.031912, -0.028189, -0.016499, -0.060085, -0.023552, -0.007617, 0.001725, 0.080346, -0.017489, 0.0203, -0.021302, 0.005543, -0.049494, -0.032299, -0.037143, -0.002185, -0.031827, -0.075289, -0.036633, 0.011301, 0.001258, -0.024124, -0.045671, 0.049407, -0.051151, 0.015709, -0.017605, 0.019179, 0.015632, -0.043969, -0.027729, -0.015065, -0.013366, 0.036968, -0.039897, 0.033819, 0.025289, -0.010096, -0.044383],
    [0.017234, -0.009468, 0.06835, -0.017441, -0.03859, -0.07479, 0.056484, -0.005604, -0.01384, 0.042922, 0.027395, -0.063277, 0.022695, -0.041609, 0.018241, -0.019805, 0.051645, 0.031182, 0.006141, 0.030238, -0.009998, 0.026998, -0.015995, 0.013584, -0.019012, 0.000962, 0.022446, 0.008229, 0.033776, -0.029892, 0.033878, -0.022863, 0.020433, 0.025387, 0.031645, -0.042827, 0.023541, -0.076564, -0.036871, 0.012213, 0.026789, -0.001615, -0.01127, 0.016961, -0.027507, -0.013848, -0.029575, 0.056461, -0.026786, 0.001622, -0.005473, 0.014344, 0.027382, 0.011161, 0.089076, -0.021578, -0.002465, -0.015389, 0.033602, 1e-05, -0.062186, -0.031333, 0.017428, -0.017111],
    [-0.022943, -0.008591, 0.017613, 0.008113, 0.065195, -0.007067, -0.050975, 0.080153, -0.016067, 0.009399, 0.016389, -0.010306, 0.009493, 0.017111, -0.019173, 0.01261, -0.008591, -0.051466, -0.025327, 0.023306, 0.006585, -0.027745, 0.021908, -0.00807, 0.015496, 0.046644, -0.038473, 0.006349, -0.003509, 0.00675, 0.01512, -0.018422, -0.006815, -0.001294, -0.01682, 0.041389, 0.003786, 0.065655, -0.015357, 0.023388, -0.040401, 0.039894, 0.005578, 0.024675, -0.091247, -0.049233, 0.013588, -0.028524, -0.013623, 0.029687, 0.043717, 0.025376, 0.006313, 0.027527, -0.039844, -0.07885, 0.044275, -0.042668, -0.002233, -0.013498, -0.005851, 0.029881, -0.028888, 0.020298],
    [-0.012632, -0.045208, -0.010702, -0.013704, 0.043405, 0.057828, -0.036285, -0.044119, 0.01636, 0.035969, 0.055316, 0.019815, -0.007357, 0.050856, -0.006768, 0.036507, 0.025525, 0.054177, -0.054619, -0.042579, -0.011388, -0.00291, -0.001828, -0.054944, -0.037493, -0.006568, -0.006518, 0.047953, 0.020047, -0.042374, 0.012045, 0.011253, -0.014634, -0.058376, -0.015471, 0.045861, 0.017942, -0.023697, -0.008829, -0.000439, 0.02712, -0.021195, 0.004535, -0.025607, 0.00332, 0.006923, 0.023669, 0.053077, 0.022467, 0.021976, -0.032901, -0.010476, 0.058761, -0.008334, 0.027837, 0.041476, -0.063572, 0.048155, -0.008303, -0.039478, 0.016791, 0.003889, -0.005233, 0.028414],
    [0.077377, 0.015917, -0.035027, 0.04636, -0.041154, 0.025276, -0.001794, 0.046698, -0.025771, -0.011901, 0.018559, -0.005594, -0.062146, -0.072381, -0.016669, 0.005915, -0.025074, 0.010852, 0.015727, 0.003373, -0.015026, -0.008699, -0.005124, 0.050452, 0.008297, -0.051256, -0.035267, 0.067059, -0.002778, 0.034298, 0.06251, 0.030064, -0.011092, 0.030394, 0.013606, 0.020801, -0.053174, -0.044278, 0.015914, 0.019895, -0.016957, -0.022639, 0.034887, -0.027756, -0.008265, 0.041844, 0.022773, 0.066334, -0.053381, 0.010949, 0.031474, -0.012661, -0.014532, -0.023596, -0.026696, 0.012985, 0.009555, 0.003537, -0.075128, -0.014608, 0.002463, -0.020805, 0.01372, -0.063846],
]


def semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T36 companion — the SemDeDup PAIR STAGE made driver-verifiable:
    assign every embedding to its nearest FROZEN centroid
    (``SEMDEDUP_PINNED_CENTROIDS``), generate candidate pairs ONLY
    within a cell, and keep pairs with exact cosine >= tau. This is
    the quadratic-bounding claim of dedup_semantic_semdedup isolated
    from the iterative fit, so DuckDB can replay it value-for-value:
    the argmin is over pure arithmetic on shared 6dp literals, and
    the measured min RELATIVE gap between best and second-best cell
    distance at sf0.01 is 9.2e-4 — eleven orders of magnitude above
    double summation error, so fold-order differences between the
    engines cannot flip an assignment (same empirical-exactness
    discipline as the LSH bucket oracles).

    Scale shape is identical to the parent: one scan against
    broadcast centroid literals for assignment, a per-cell self
    equi-join (n/k rows per cell in expectation) for candidates,
    exact cosine only on candidates."""
    from proceso_de_etl_spark.operators.ml import assign_clusters

    emb = with_norm(load_table(spark, sf_dir, "embeddings"))
    assigned = assign_clusters(emb, SEMDEDUP_PINNED_CENTROIDS).select(
        "vec_id", "cluster", "embedding", "norm"
    )
    a = assigned.select(
        F.col("vec_id").alias("a"), "cluster", F.col("embedding").alias("ea"), F.col("norm").alias("na")
    )
    b = assigned.select(
        F.col("vec_id").alias("b"), "cluster", F.col("embedding").alias("eb"), F.col("norm").alias("nb")
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", dot_cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")))
        .filter(F.col("cosine") >= SEMDEDUP_TAU)
        .select("cluster", "a", "b", F.round("cosine", 6).alias("cosine"))
    )


def _semdedup_pairs_oracle_sql() -> str:
    return f"""
WITH {EMB_ELEMS_CTES},
cents(cluster, w) AS (
  VALUES {sql_matrix_values(SEMDEDUP_PINNED_CENTROIDS)}
),
centel AS (SELECT cluster, unnest(range(1, len(w) + 1)) AS i, unnest(w) AS cx FROM cents),
dists AS (
  SELECT e.vec_id, ce.cluster, SUM((e.x - ce.cx) * (e.x - ce.cx)) AS d2
  FROM elems e JOIN centel ce ON ce.i = e.i GROUP BY 1, 2
),
assign AS (
  SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
    FROM dists
  ) WHERE rn = 1
),
pairs AS (
  SELECT x.cluster, x.vec_id AS a, y.vec_id AS b
  FROM assign x JOIN assign y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
),
scored AS (
  SELECT p.cluster, p.a, p.b, SUM(ea.x * eb.x) / (na.norm * nb.norm) AS cosine
  FROM pairs p
  JOIN elems ea ON ea.vec_id = p.a
  JOIN elems eb ON eb.vec_id = p.b AND eb.i = ea.i
  JOIN norms na ON na.vec_id = p.a
  JOIN norms nb ON nb.vec_id = p.b
  GROUP BY 1, 2, 3, na.norm, nb.norm
)
SELECT cluster, a, b, ROUND(cosine, 6) AS cosine
FROM scored WHERE cosine >= {SEMDEDUP_TAU}
"""


ORACLES["semdedup_pairs"] = _semdedup_pairs_oracle_sql()


def dedup_leakproof_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T49 — NEAR-dup leakage-safe train/val/test split: the split
    key is the connected-component id of the near-dup graph (T4b), so
    near-identical copies — not just byte-identical ones —
    can never straddle train and eval. T48 (sample_group_aware_split)
    closes the exact-dup leak; this closes the near-dup leak that
    exact hashing misses and that benchmark decontamination papers
    (Lee et al. 2022) document as the dominant eval-contamination
    channel. Singleton docs (no near-dup edges) key by their own id
    via a left join + coalesce.

    Scale shape: cluster labeling is the bounded-fixpoint CC loop
    (checkpointed, or the gated driver union-find when the edge list
    is tiny); the split itself is one md5 over the group key and two
    aggregations keyed on it — identical plan to T48 downstream. The
    oracle recomputes the clusters with a recursive CTE over the
    exact pair set and must agree bit-for-bit, including
    ``n_leaky_groups = 0``."""
    from proceso_de_etl_spark.operators.sampling import (
        SPLIT_TRAIN_BOUND,
        SPLIT_VAL_BOUND,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cl = dedup_connected_components(spark, sf_dir).select("doc_id", "cluster")
    assigned = (
        docs.join(cl, "doc_id", "left")
        .select("doc_id", F.coalesce("cluster", "doc_id").alias("gk"))
        .withColumn(
            "split",
            F.when(
                F.substring(F.md5(F.col("gk").cast("string")), 1, 2)
                < SPLIT_TRAIN_BOUND,
                "train",
            )
            .when(
                F.substring(F.md5(F.col("gk").cast("string")), 1, 2)
                < SPLIT_VAL_BOUND,
                "val",
            )
            .otherwise("test"),
        )
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


def _leakproof_split_oracle() -> str:
    from proceso_de_etl_spark.operators.sampling import (
        SPLIT_TRAIN_BOUND,
        SPLIT_VAL_BOUND,
    )

    return f"""
WITH clusters AS ({ORACLES["dedup_connected_components"].strip()}),
assigned AS (
  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS gk,
         CASE WHEN substr(md5(CAST(COALESCE(c.cluster, d.doc_id) AS VARCHAR)), 1, 2) < '{SPLIT_TRAIN_BOUND}' THEN 'train'
              WHEN substr(md5(CAST(COALESCE(c.cluster, d.doc_id) AS VARCHAR)), 1, 2) < '{SPLIT_VAL_BOUND}' THEN 'val'
              ELSE 'test' END AS split
  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
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


ORACLES["dedup_leakproof_split"] = _leakproof_split_oracle()


CURVE_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T54 — the threshold tuning curve behind every near-dup knob:
    how many pairs (and affected docs) each candidate Jaccard cutoff
    would remove, from ONE pass over the pair table — the measurement
    a pipeline runs BEFORE picking JACCARD_THRESHOLD, instead of
    guessing. Pairs are computed once at the lowest threshold, then
    every cutoff is a conditional aggregate over the same frame (no
    re-scan per threshold). Mean Jaccard of surviving pairs is
    reported decimal-exact. At corpus scale the pair generator swaps
    to per-threshold banded LSH (T2's bands retuned per cutoff — the
    8×4 config's recall note above); the exact generator here is the
    same one the T4 oracle family verifies against."""
    pairs = exact_jaccard_pairs(
        _doc_shingles(spark, sf_dir), min(CURVE_THRESHOLDS)
    ).persist()
    out = None
    for t in CURVE_THRESHOLDS:
        surv = pairs.filter(F.col("jaccard") >= t)
        docs = surv.select(F.col("a").alias("d")).unionByName(
            surv.select(F.col("b").alias("d"))
        )
        piece = (
            surv.agg(
                F.count("*").alias("n_pairs"),
                F.round(
                    F.avg(F.col("jaccard").cast("decimal(18,6)")).cast("double"), 6
                ).alias("mean_jaccard"),
            )
            .join(docs.agg(F.countDistinct("d").alias("n_docs_affected")))
            .select(
                F.lit(t).alias("threshold"),
                "n_pairs",
                F.coalesce("mean_jaccard", F.lit(0.0)).alias("mean_jaccard"),
                "n_docs_affected",
            )
        )
        out = piece if out is None else out.unionByName(piece)
    return out.orderBy("threshold")


def _threshold_curve_oracle() -> str:
    pieces = []
    for t in CURVE_THRESHOLDS:
        pieces.append(f"""
  SELECT {t} AS threshold, COUNT(*) AS n_pairs,
         COALESCE(ROUND(CAST(AVG(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE), 6), 0.0) AS mean_jaccard,
         (SELECT COUNT(DISTINCT d) FROM (
            SELECT a AS d FROM pairs WHERE jaccard >= {t}
            UNION ALL SELECT b FROM pairs WHERE jaccard >= {t})) AS n_docs_affected
  FROM pairs WHERE jaccard >= {t}""")
    union = "\n  UNION ALL\n".join(pieces)
    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SH_SQL})) AS sh FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
pairs AS (
  SELECT a, b, ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {min(CURVE_THRESHOLDS)}
)
SELECT * FROM (
{union}
)
ORDER BY threshold
"""


ORACLES["dedup_threshold_curve"] = _threshold_curve_oracle()


def dedup_span_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T57 — duplicated-span EXCISION: the removal half of the Lee
    et al. 2022 exact-substring criterion (T32 detects; this one
    actually cuts). A token is removed when ANY SPAN_N-token span
    covering it appears verbatim in ≥2 documents; the cleaned text is
    the ordered join of surviving tokens, fingerprinted so the oracle
    verifies the RECONSTRUCTED text byte-for-byte, not just counts.

    Distributed shape: positions come from one posexplode of the
    span array (the token array materialized through a projection
    boundary first — SURVEY §7); span document-frequency is one
    distinct+groupBy keyed on the hash, joined back on the PERSISTED
    position frame (no re-scan of the tokenize subtree); coverage
    expansion is a bounded SPAN_N× fan-out; token survival is a
    left-anti join keyed (doc, position); reassembly is a per-doc
    sorted collect — bounded by document length, the same per-doc
    bound every text op here lives under. No global structure
    anywhere; boilerplate spans bound their own fan-out by DF (cap
    ubiquitous spans first at web scale, as decontamination does)."""
    docs = load_table(spark, sf_dir, "documents")
    toks_staged = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    staged = toks_staged.select(
        "doc_id", "toks", shingles(F.col("toks"), SPAN_N).alias("spans")
    )
    span_pos = (
        staged.select("doc_id", F.posexplode("spans").alias("pos", "s"))
        .select("doc_id", (F.col("pos") + 1).alias("pos"), F.md5("s").alias("h"))
        .persist()
    )
    dfh = (
        span_pos.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("df"))
    )
    covered = (
        span_pos.join(dfh.filter(F.col("df") >= 2), "h")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(SPAN_N - 1))
            ).alias("tpos"),
        )
        .distinct()
    )
    tok_pos = toks_staged.select(
        "doc_id", F.posexplode("toks").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("tpos"), "tok")
    kept = tok_pos.join(covered, ["doc_id", "tpos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("tpos"), F.col("tok")))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("cleaned_md5"),
    )
    totals = toks_staged.select("doc_id", F.size("toks").alias("n_tokens"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.round(
                (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                4,
            ).alias("removed_frac"),
            F.coalesce("cleaned_md5", F.md5(F.lit(""))).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


ORACLES["dedup_span_excise"] = f"""
WITH base AS (
  SELECT doc_id, {_TOKS_SQL} AS t, {_SPAN_SQL} AS sp FROM documents
),
span_pos AS (
  SELECT doc_id, i AS pos, md5(sp[i]) AS h
  FROM base, unnest(generate_series(1, len(sp))) AS u(i)
),
dfh AS (
  SELECT h, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, h FROM span_pos) GROUP BY h
),
covered AS (
  SELECT DISTINCT doc_id, pos + k - 1 AS tpos
  FROM span_pos JOIN dfh USING (h), unnest(generate_series(1, {SPAN_N})) AS g(k)
  WHERE df >= 2
),
tok_pos AS (
  SELECT doc_id, i AS tpos, t[i] AS tok
  FROM base, unnest(generate_series(1, len(t))) AS u(i)
),
kept AS (
  SELECT tok_pos.doc_id, tok_pos.tpos, tok_pos.tok
  FROM tok_pos LEFT JOIN covered
    ON tok_pos.doc_id = covered.doc_id AND tok_pos.tpos = covered.tpos
  WHERE covered.tpos IS NULL
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY tpos)) AS cleaned_md5
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, len(t) AS n_tokens FROM base)
SELECT totals.doc_id, n_tokens,
       COALESCE(n_kept, 0) AS n_kept,
       ROUND((n_tokens - COALESCE(n_kept, 0)) * 1.0 / GREATEST(n_tokens, 1), 4) AS removed_frac,
       COALESCE(cleaned_md5, md5('')) AS cleaned_md5
FROM totals LEFT JOIN rebuilt ON totals.doc_id = rebuilt.doc_id
ORDER BY totals.doc_id
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_source_overlap": dedup_source_overlap,
    "dedup_semantic_semdedup": dedup_semantic_semdedup,
    "semdedup_pairs": semdedup_pairs,
    "dedup_duplicate_spans": dedup_duplicate_spans,
    "dedup_incremental": dedup_incremental,
    "dedup_incremental_minhash": dedup_incremental_minhash,
    "dedup_connected_components": dedup_connected_components,
    "dedup_keep_best": dedup_keep_best,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_lsh_pairs": dedup_embedding_lsh_pairs,
    "dedup_decontaminate": dedup_decontaminate,
    "dedup_containment": dedup_containment,
    "dedup_leakproof_split": dedup_leakproof_split,
    "dedup_threshold_curve": dedup_threshold_curve,
    "dedup_span_excise": dedup_span_excise,
}
