"""Similarity search over the embedding column (SURVEY.md §2.3 T6-T7e,
T30, T43, T50, T71): exact cosine top-k as the recall baseline, three
approximate indexes as the scale paths, their composition and audit.

- T6 exact: broadcast queries × corpus. O(queries × corpus) — fine
  for a small query set, wrong for all-pairs at 100 TB.
- T7 LSH: 16 md5-seeded tables of 5 ±1 hyperplanes each (N_TABLES ×
  PLANES_PER_TABLE, 32 buckets per table); candidates are the
  bucket-mates in any table, found by an equi-join on the bucket id.
- T7b IVF: a k-means coarse quantizer; each query scans only its
  N_PROBE nearest inverted lists.
- T7c PQ: per-subspace codebooks; candidates rank by asymmetric
  table-lookup distance (ADC) before the exact re-rank.
- T7d IVF×PQ: the IVF probe prunes which rows the ADC scan touches.
- T7e recall/cost audit, T50 incremental IVF maintenance, T71 rank
  fusion; T30 int8 quantization and T43 sparse top-k ride along.

Every search is one pipeline of shared stages — pair source (all
pairs, LSH buckets, IVF probe), optional PQ encode + ADC shortlist,
exact re-rank — written once below for Spark and once for the DuckDB
oracle. The fit/pinned split: a fit key (``ann_ivf_topk``,
``ann_pq_topk``, ``ann_ivfpq_topk``) fits its geometry with
``ml.kmeans_fit`` and stays rows-only, because an iterative float fit
does not replay across engines. Its pinned twin calls the same
builder with the geometry frozen as 6dp literals
(``IVF_PINNED_CENTROIDS``, ``PQ_PINNED_CODEBOOKS``), which the oracle
replays value-for-value; the float decision margins this relies on
are measured in tests/test_properties.py. T50 splits the same way:
``ann_ivf_incremental_pinned`` runs the insert against the frozen
quantizer and reports in exact integers.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from proceso_de_etl_spark.operators.dedup import (
    DOT_SCALE,
    EMB_DIM,
    EMB_ELEMS_CTES,
    N_TABLES,
    PLANES_PER_TABLE,
    dot_cosine,
    lsh_bucket_ctes,
    sql_matrix_values,
    with_norm,
)
from proceso_de_etl_spark.sources.catalog import load_table
from proceso_de_etl_spark.sources.local import local_frame

ORACLES: dict[str, str] = {}

N_QUERIES = 20  # vec_id < 20 act as the query set
TOP_K = 5


# ---------------------------------------------------------------------------
# Shared search stages (Spark). A pair frame carries the query side
# (query_id, qe, qn) and the corpus side (neighbor_id, ce, cn).


def _query_cols() -> list[Column]:
    return [
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
    ]


def _corpus_cols() -> list[Column]:
    return [
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("norm").alias("cn"),
    ]


def _all_pairs(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Every (query, corpus vector) pair but the self-pair: the small
    query set is broadcast, so the corpus side never shuffles."""
    return corpus.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))


def _rerank(pairs: DataFrame) -> DataFrame:
    """The exact re-rank every search ends in: cosine in double per
    pair, TOP_K per query by (cosine desc, neighbor_id asc), emitted
    as (query_id, rank, neighbor_id, cosine) with cosine at 6dp."""
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("cosine", dot_cosine(F.col("qe"), F.col("ce"), F.col("qn"), F.col("cn")))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def _ivf_corpus(emb: DataFrame, centroids: list[list[float]], *extra: Column) -> DataFrame:
    """The inverted lists: one assignment scan puts every vector
    (with norm) in its nearest cell, emitted as (neighbor_id, ce, cn,
    list_id, *extra)."""
    from proceso_de_etl_spark.operators.ml import assign_clusters

    return assign_clusters(emb, centroids).select(
        *_corpus_cols(), F.col("cluster").alias("list_id"), *extra
    )


def _probe_pairs(
    corpus_assigned: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    n_probe: int,
    *query_cols: Column,
) -> DataFrame:
    """The IVF probe: each query (projected to ``query_cols``, which
    must include query_id) fans out to its n_probe nearest cells, and
    the list_id equi-join touches only those inverted lists of
    ``corpus_assigned`` (neighbor_id, list_id, ...); self-pairs are
    dropped. Centroids ride in as broadcast data, (d, c) structs
    zipped with the cell index, and array_sort + slice picks the
    probe set (ties to the lower cell id)."""
    from proceso_de_etl_spark.operators.ml import dists_over_matrix, with_broadcast_value

    cells = F.zip_with(
        dists_over_matrix(F.col("embedding"), F.col("_qmat")),
        F.sequence(F.lit(0).cast("bigint"), F.lit(len(centroids) - 1).cast("bigint")),
        lambda d, c: F.struct(d.alias("d"), c.alias("c")),
    )
    fanned = with_broadcast_value(queries, centroids, "_qmat", "array<array<double>>").select(
        *query_cols, F.explode(F.slice(F.array_sort(cells), 1, n_probe)).alias("p")
    )
    probes = fanned.select(*fanned.columns[:-1], F.col("p.c").alias("list_id"))
    return corpus_assigned.join(F.broadcast(probes), "list_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )


def _normalized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings with ``norm`` and the L2-normalized vector ``ne`` —
    the space the PQ codebooks live in."""
    emb = with_norm(load_table(spark, sf_dir, "embeddings"))
    return emb.withColumn(
        "ne", F.transform(F.col("embedding"), lambda x: x.cast("double") / F.col("norm"))
    )


def _pq_subspace(m: int) -> Column:
    sub = EMB_DIM // PQ_M
    return F.slice(F.col("ne"), m * sub + 1, sub)


def _fit_codebooks(emb: DataFrame) -> list[list[list[float]]]:
    """One k-means codebook (PQ_K codes) per subspace of ``ne``."""
    from proceso_de_etl_spark.operators.ml import kmeans_fit

    return [
        kmeans_fit(
            emb.select("vec_id", _pq_subspace(m).alias("sub")), k=PQ_K, n_iter=3, emb_col="sub"
        )
        for m in range(PQ_M)
    ]


def _adc_pairs(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """PQ encode + ADC scoring. Corpus rows carry PQ_M codes (argmin
    against each subspace's codebook); queries keep full precision and
    carry their own K-entry distance table per subspace; each pair's
    ``adc`` is the ordered M-term sum of table lookups (the same fold
    order as the oracle's pivot). Without ``centroids`` every corpus
    row is a candidate (T7c); with them, only the rows of each query's
    IVFPQ_N_PROBE nearest cells are (T7d). Codebooks ride in as a
    broadcast M×K×sub tensor column: plan-literal codebooks cost
    seconds of Catalyst analysis per invocation."""
    from proceso_de_etl_spark.operators.ml import dists_over_matrix, with_broadcast_value

    embc = with_broadcast_value(emb, codebooks, "_cb", "array<array<array<double>>>")

    def table(m: int) -> Column:
        return dists_over_matrix(_pq_subspace(m), F.element_at(F.col("_cb"), m + 1))

    def code(m: int) -> Column:
        dists = table(m)
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int").alias(f"code{m}")

    codes = [code(m) for m in range(PQ_M)]
    qtabs = [table(m).alias(f"qtab{m}") for m in range(PQ_M)]
    queries = embc.filter(F.col("vec_id") < N_QUERIES)
    if centroids is None:
        pairs = _all_pairs(
            embc.select(*_corpus_cols(), *codes), queries.select(*_query_cols(), *qtabs)
        )
    else:
        pairs = _probe_pairs(
            _ivf_corpus(embc, centroids, *codes),
            queries,
            centroids,
            IVFPQ_N_PROBE,
            *_query_cols(),
            *qtabs,
        )
    adc = sum(F.element_at(F.col(f"qtab{m}"), F.col(f"code{m}") + 1) for m in range(PQ_M))
    return pairs.withColumn("adc", adc)


def _pq_search(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    rerank: int,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """PQ search: the ``rerank`` lowest-ADC candidates per query
    (ties by neighbor_id), re-ranked exactly."""
    cand_w = W.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return _rerank(
        _adc_pairs(emb, codebooks, centroids)
        .withColumn("cand_rk", F.row_number().over(cand_w))
        .filter(F.col("cand_rk") <= rerank)
    )


# ---------------------------------------------------------------------------
# Shared oracle stages (DuckDB), the same pipeline in SQL: a pair
# source CTE named ``pairs`` (query_id, neighbor_id), an optional PQ
# shortlist ``cand``, and the exact re-rank.

_ALL_PAIRS_CTE = f"""pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM norms q JOIN norms c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)"""


def _ivf_ctes(centroids: list[list[float]], n_probe: int | None = None) -> str:
    """IVF stage: ``assign`` puts every vector in its nearest cell
    (ties to the lower list_id); with ``n_probe``, ``pairs`` joins
    each query to the vectors of its n_probe nearest cells."""
    assign = f"""cents(list_id, w) AS (
  VALUES {sql_matrix_values(centroids)}
),
centel AS (SELECT list_id, unnest(range(1, len(w) + 1)) AS i, unnest(w) AS cx FROM cents),
dists AS (
  SELECT e.vec_id, ce.list_id, SUM((e.x - ce.cx) * (e.x - ce.cx)) AS d2
  FROM elems e JOIN centel ce ON ce.i = e.i GROUP BY 1, 2
),
assign AS (
  SELECT vec_id, CAST(list_id AS BIGINT) AS list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rn
    FROM dists
  ) WHERE rn = 1
)"""
    if n_probe is None:
        return assign
    return f"""{assign},
qprobe AS (
  SELECT vec_id AS query_id, CAST(list_id AS BIGINT) AS list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rn
    FROM dists WHERE vec_id < {N_QUERIES}
  ) WHERE rn <= {n_probe}
),
pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM qprobe p JOIN assign a ON a.list_id = p.list_id
  WHERE a.vec_id <> p.query_id
)"""


def _pq_ctes(codebooks: list[list[list[float]]], rerank: int) -> str:
    """PQ stage over ``pairs``: encode the normalized vectors, score
    every pair by ADC, keep each query's ``rerank`` lowest as
    ``cand``. The M lookups are pivoted and added left to right —
    Spark's m=0..M-1 fold — so no unordered SUM sits on a ranking
    boundary."""
    sub = EMB_DIM // PQ_M
    vals = ",\n         ".join(
        sql_matrix_values(cb, key=f"{m}, ") for m, cb in enumerate(codebooks)
    )
    pivots = ",\n         ".join(
        f"MAX(CASE WHEN c.m = {m} THEN q.d2 END) AS d{m}" for m in range(PQ_M)
    )
    adc_sum = " + ".join(f"d{m}" for m in range(PQ_M))
    return f"""ne AS (
  SELECT e.vec_id, e.i, e.x / n.norm AS xn
  FROM elems e JOIN norms n ON n.vec_id = e.vec_id
),
pcents(m, code, w) AS (
  VALUES {vals}
),
pcentel AS (
  SELECT m, code, unnest(range(1, len(w) + 1)) AS j, unnest(w) AS cx FROM pcents
),
pdists AS (
  SELECT v.vec_id, ce.m, ce.code, SUM((v.xn - ce.cx) * (v.xn - ce.cx)) AS d2
  FROM ne v JOIN pcentel ce
    ON ce.m = (v.i - 1) // {sub} AND ce.j = ((v.i - 1) % {sub}) + 1
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code) AS rn
    FROM pdists
  ) WHERE rn = 1
),
adc AS (
  SELECT p.query_id, p.neighbor_id,
         {pivots}
  FROM pairs p
  JOIN codes c ON c.vec_id = p.neighbor_id
  JOIN pdists q ON q.vec_id = p.query_id AND q.m = c.m AND q.code = c.code
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                ORDER BY {adc_sum}, neighbor_id) AS cand_rk
    FROM adc
  ) WHERE cand_rk <= {rerank}
)"""


def _topk_oracle(*ctes: str, src: str = "pairs") -> str:
    """A top-k oracle: ``ctes`` (the prelude first) end in the
    candidate CTE ``src``; the exact re-rank scores each candidate
    pair by cosine and keeps TOP_K per query."""
    body = ",\n".join(ctes)
    return f"""
WITH {body},
scored AS (
  SELECT cd.query_id, cd.neighbor_id,
         SUM(q.x * c.x) / (nq.norm * nc.norm) AS cosine
  FROM {src} cd
  JOIN elems q ON q.vec_id = cd.query_id
  JOIN elems c ON c.vec_id = cd.neighbor_id AND c.i = q.i
  JOIN norms nq ON nq.vec_id = cd.query_id
  JOIN norms nc ON nc.vec_id = cd.neighbor_id
  GROUP BY 1, 2, nq.norm, nc.norm
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# Keys


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 — exact cosine top-k: broadcast the (small) query set
    against the corpus, window-rank per query. The corpus side never
    shuffles — at scale this is one scan + a per-query heap."""
    emb = with_norm(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(*_query_cols())
    return _rerank(_all_pairs(emb.select(*_corpus_cols()), queries))


ORACLES["ann_cosine_topk"] = _topk_oracle(EMB_ELEMS_CTES, _ALL_PAIRS_CTE)


def _plane_weights(table: int, n_planes: int = PLANES_PER_TABLE, dim: int = EMB_DIM) -> list[list[float]]:
    """Deterministic pseudo-random ±1 hyperplanes: sign of
    md5(table, plane, dim). Engine-independent and seed-free."""
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"plane:{table}:{j}:{i}".encode()).hexdigest()
            row.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


# Scaled-integer hyperplane dot (r7 verdict item 5): weights are
# exactly ±1 and every gate embedding element is a float32 whose
# value×DOT_SCALE (2^48, shared constant in dedup.py) is an exact
# BIGINT (smallest |x| ≈ 2.5e-6 ⇒ ulp ≥ 2^-48; integrality is
# MEASURED in tests/test_properties.py), so the dot's sign is decided
# by an EXACT integer sum on both engines — no float summation-order
# assumption left to pin. Magnitude bound: |x| < 0.5 ⇒ each term
# < 2^47, 64 terms < 2^53 ≪ 2^63.


def scaled_int_embedding(emb_col):
    """float32 embedding → exact ×DOT_SCALE BIGINT array (one pass)."""
    return F.transform(
        emb_col,
        lambda x: F.round(x.cast("double") * F.lit(float(DOT_SCALE))).cast("bigint"),
    )


def with_lsh_tables(
    emb: DataFrame, col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(id_col, table_idx, bucket) rows for every vector — multi-table
    LSH: a close pair only needs to agree in ONE table, so recall
    compounds: miss = prod_t (1 - p_match^planes). One table with
    more bits has near-zero recall on sparse data (measured: 1/100
    at 12 bits / 500 vectors).

    Output contract (r8 advisor): EXACTLY three columns —
    (``id_col``, table_idx, bucket); the input's other columns are
    dropped, and ``col`` names only the embedding to hash (it is NOT
    passed through). Callers wanting vectors alongside buckets join
    back on ``id_col``.

    Shape of the computation (r8, after bench flagged a 2x wall
    regression on the scaled-integer rewrite): the cost was never the
    arithmetic — it was CATALYST, analyzing 80 separate aggregate()
    HOFs each carrying a 64-element literal weight array (~11 s of
    driver-side planning per invocation vs 0.2 s of execution at
    sf0.1). The ±1 hyperplane matrix therefore rides in as DATA — a
    broadcast 1-row (80×64 bigint) frame built from _plane_weights —
    and all 80 dots come from ONE transform(planes, w → Σ xint·w)
    expression node over the per-row pre-scaled integer embedding
    (scaled once in its own projection; CollapseProject keeps the
    non-cheap transform un-duplicated). Bucket bits then read the dot
    array via element_at, which stays codegen-fast (the fully-nested
    slice/zip_with form was measured 6x slower at execution).
    Measured per fresh invocation: 11.6 s → 2.8 s; output
    bit-identical. At cluster scale the 40 KB broadcast is free and
    the per-row work is unchanged — the win is pure plan size."""
    spark = emb.sparkSession
    wmat = [
        [int(v) for v in w] for t in range(N_TABLES) for w in _plane_weights(t)
    ]  # (N_TABLES*PLANES_PER_TABLE) x EMB_DIM, row t*PLANES+j = table t plane j
    wdf = local_frame(spark, [(wmat,)], "planes: array<array<bigint>>")
    dots = F.transform(
        F.col("planes"),
        lambda w: F.aggregate(
            F.zip_with(F.col("_xint"), w, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ),
    )
    buckets = F.array(
        *[
            F.struct(
                F.lit(t).alias("table_idx"),
                sum(
                    (
                        F.when(
                            F.element_at(F.col("_dots"), t * PLANES_PER_TABLE + j + 1) > 0,
                            F.lit(1 << j).cast("bigint"),
                        ).otherwise(F.lit(0).cast("bigint"))
                        for j in range(PLANES_PER_TABLE)
                    ),
                    F.lit(0).cast("bigint"),
                ).alias("bucket"),
            )
            for t in range(N_TABLES)
        ]
    )
    return (
        emb.crossJoin(F.broadcast(wdf))
        .withColumn("_xint", scaled_int_embedding(F.col(col)))
        .withColumn("_dots", dots)
        .withColumn("tb", F.explode(buckets))
        .select(
            id_col,
            F.col("tb.table_idx").alias("table_idx"),
            F.col("tb.bucket").alias("bucket"),
        )
    )


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 — LSH-bucketed ANN: hash into N_TABLES independent bucket
    tables, equi-join per (table, bucket), dedup candidates, re-rank
    exactly within candidates. Value-oracled: the ±1 planes are
    md5-derived (portable), so DuckDB replays buckets → candidates →
    exact re-rank; recall stays probabilistic in general, but for
    the FIXED plane family the output is deterministic
    (ann_cosine_topk remains the exact-recall twin)."""
    emb = with_norm(load_table(spark, sf_dir, "embeddings"))
    tabled = with_lsh_tables(emb)
    queries = tabled.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "table_idx", "bucket"
    )
    corpus = tabled.select(F.col("vec_id").alias("neighbor_id"), "table_idx", "bucket")
    candidates = (
        corpus.join(F.broadcast(queries), ["table_idx", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _rerank(
        candidates.join(F.broadcast(emb.select(*_query_cols())), "query_id").join(
            emb.select(*_corpus_cols()), "neighbor_id"
        )
    )


ORACLES["ann_lsh_bucketed"] = _topk_oracle(
    lsh_bucket_ctes(N_TABLES, PLANES_PER_TABLE, EMB_DIM),
    f"""pairs AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buckets q JOIN buckets c
    ON q.table_idx = c.table_idx AND q.bucket = c.bucket
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
)""",
)


N_LISTS = 16  # IVF coarse-quantizer cells (k-means centroids)
N_PROBE = 4  # cells scanned per query


def ivf_search(
    corpus_assigned: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    n_probe: int = N_PROBE,
) -> DataFrame:
    """The probe-and-rerank half of IVF, shared by T7b and T50:
    queries (with ``norm``) explode to their n_probe nearest cells,
    the equi-join on list_id touches only those inverted lists, exact
    cosine re-ranks inside them. `corpus_assigned` carries
    (neighbor_id, ce, cn, list_id). Raising n_probe is the standard
    recall knob when the quantizer has drifted from the data (T50's
    report detects it; probing more cells buys recall at linear
    scan-cost until the scheduled refit)."""
    return _rerank(_probe_pairs(corpus_assigned, queries, centroids, n_probe, *_query_cols()))


def _ivf_topk(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """IVF search of the first N_QUERIES vectors against ``emb``
    indexed by ``centroids`` — T7b's builder, fitted or pinned."""
    return ivf_search(
        _ivf_corpus(emb, centroids), emb.filter(F.col("vec_id") < N_QUERIES), centroids
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7b — IVF (inverted-file) ANN, the other standard scale path
    next to LSH: a k-means coarse quantizer (N_LISTS centroids, held
    on the driver — k × dim doubles) partitions the corpus into
    inverted lists with ONE assignment scan; each query probes only
    its N_PROBE nearest lists and re-ranks exactly inside them.

    Scale shape: the corpus is touched twice (assign once, then only
    ~N_PROBE/N_LISTS of it per query batch via the list_id equi-join)
    — never an all-pairs join; the probe set is queries × N_PROBE
    rows, broadcastable. Deterministic end-to-end: k-means init is
    the k lowest vec_ids and ties break on list id, so the same data
    always builds the same index. (Rows-only: recall is approximate
    by construction; ann_cosine_topk is the exact twin and the
    recall test pins this variant against it.)"""
    from proceso_de_etl_spark.operators.ml import kmeans_fit

    emb = with_norm(load_table(spark, sf_dir, "embeddings"))
    return _ivf_topk(emb, kmeans_fit(emb, k=N_LISTS, n_iter=3))


# Frozen coarse quantizer for the driver-verifiable IVF companion:
# fit ONCE by ml.kmeans_fit (k=N_LISTS, 3 iters — same recipe as
# ann_ivf_topk) on the sf0.01 embeddings, rounded to 6dp so the
# literals parse to identical doubles in Spark and DuckDB. Same
# freeze-the-geometry move as dedup.SEMDEDUP_PINNED_CENTROIDS: the
# k-means FIT stays rows-only in ann_ivf_topk; this pins the
# probe-and-rerank half (ivf_search) to a value oracle.
IVF_PINNED_CENTROIDS: list[list[float]] = [
    [0.019524, 0.025106, 0.050597, -0.106388, 0.027263, -0.009795, -0.035729, 0.001011, 0.043619, -0.057394, -0.041875, -0.01767, -0.048797, -0.003956, -0.019706, -0.006786, 0.04346, 0.060503, 0.041406, 0.051916, -0.09569, 0.018694, 0.024474, -0.016613, -0.006437, 0.052921, 0.094825, -0.006842, -0.007379, 0.090711, -0.005817, 0.042709, -0.041065, -0.032083, 0.009548, -0.029096, 0.013294, 0.016034, 0.029841, -0.010427, 0.00638, 0.015345, -0.01348, 0.022606, -0.023343, 0.046399, 0.022186, -0.073476, 0.012618, -0.021085, 0.00656, 0.014029, 0.00703, -0.037574, 0.064884, 0.005139, -0.014345, -0.011271, -0.08253, -0.033253, -0.016412, 0.01538, 0.035205, -0.053874],
    [-0.042974, 0.034698, 0.013603, -0.020418, -0.002822, -0.010402, -0.066478, -0.020484, -0.003278, -0.006862, -0.075064, 0.073309, 0.098382, -0.033414, 0.039219, 0.010503, -0.03814, -0.033773, 0.029224, -0.05062, 0.001704, 0.049023, 0.036174, -0.047504, 0.034528, 0.05562, -0.015432, -0.060309, 0.00887, 0.03514, -0.00161, -0.015455, -0.059988, -0.021081, -0.030103, 0.062478, -0.067459, -0.009962, 0.020955, -0.125774, -0.001787, -0.060388, 0.065797, 0.044299, 0.017649, 0.01027, -0.05122, -0.002962, -0.090271, -0.073005, -0.015397, 0.009057, 0.00291, 0.014697, -0.000823, 0.054055, 0.055748, -0.032064, -0.006407, 0.012128, -0.036614, -0.003601, -0.045204, -0.04261],
    [-0.007088, -0.005922, -0.023553, 0.061469, 0.044531, -0.033847, -0.000507, -0.03731, -0.016517, -0.100314, -0.010748, 0.028113, -0.036502, 0.072885, 0.027934, 0.036935, -0.003545, 0.064546, -0.047236, -0.041448, 0.02191, 0.037695, 0.050099, -0.018939, -0.002662, -0.05579, -0.00598, -0.027943, 0.027281, -0.004479, -0.002965, -0.04584, -0.01324, 0.00258, -0.000584, 0.01082, 0.021775, 0.062543, 0.029563, 0.075524, 0.038672, -0.00323, 0.035246, 0.007147, -0.002291, -0.007428, 0.000251, -0.006859, 0.052121, 0.026949, 0.0359, -0.017117, -0.01257, -0.053767, 0.026487, 0.06317, 0.030176, -0.058163, -0.009202, 0.067958, 0.029602, 0.036856, 0.016589, -0.012753],
    [-0.014841, 0.069213, 0.024891, 0.017049, 0.027268, -0.003339, 0.026019, -0.010579, -0.026293, 0.019942, 0.017667, 0.041952, 0.022049, 0.102264, 0.045558, 0.012622, -0.013745, 0.000257, -0.006473, 0.029732, -0.015008, 0.012907, -0.005976, 0.029208, -0.000814, 0.035468, -0.012187, -0.019187, -0.061251, -0.034596, -0.016675, -0.00477, 0.048842, 0.011114, -0.048747, -0.004964, -0.004954, 0.008051, -0.014283, -0.024985, -0.023631, -0.049941, -0.085837, -0.031799, -0.000198, -0.027135, -0.012615, -0.057124, 0.112258, -0.088358, -0.004501, -0.037161, -0.008317, 0.060714, -0.020541, -0.025981, 0.017526, -0.037944, 0.006298, -0.070798, 0.048205, -8e-05, -0.003873, -0.073352],
    [-0.010532, -0.025881, 0.065571, 0.007623, -0.035214, -0.122202, 0.070082, 0.058972, -0.019324, 0.038273, 0.064141, -0.033891, 0.013383, -0.057173, -0.015489, 0.002654, 0.026476, 0.017122, -0.018403, 0.057396, -0.039809, 0.012181, -0.017583, 0.000834, -0.042112, -0.020886, 0.031459, -0.011557, 0.022914, -0.015108, 0.02593, 0.015719, 0.050642, -0.002819, 0.001651, -0.02709, -0.003015, -0.053336, -0.042919, 0.033451, 0.014103, -0.013366, -0.080209, 0.050056, -0.033652, 0.03579, -0.059904, 0.093152, -0.068511, -0.020711, 0.037005, 0.039524, 0.029119, 0.025076, 0.097673, -0.024723, 0.025471, -0.046647, 0.021327, -0.016076, -0.041702, -0.000477, 0.024588, -0.028674],
    [0.003929, -0.053396, 0.052515, -0.003294, 0.074026, -0.036935, -0.037532, 0.105768, -0.042479, 0.049863, -0.02605, 0.02679, 0.025237, 0.046886, -0.009051, -0.002618, 0.028335, -0.074699, -0.075892, 0.046047, 0.000285, -0.007124, 0.032736, 0.023572, 0.035796, -0.006936, -0.054954, 0.008548, 0.010099, 0.034925, 0.067053, -0.035049, 0.016683, 0.000638, -0.00638, 0.043037, 0.020924, 0.064133, -0.035431, 0.008, -0.068945, 0.002068, -0.033804, 0.031346, -0.071589, -0.053044, -0.002192, -0.016525, -0.007844, 0.001813, 0.065566, 0.038632, -0.006472, 0.046464, -0.068028, -0.065572, 0.005772, -0.054277, -0.01632, 0.012376, -0.005596, 0.019315, -0.026456, 0.052842],
    [0.019433, -0.038333, -0.010362, -0.04242, 0.017574, 0.060309, -0.024778, -0.041768, -0.006616, 0.015941, 0.084868, -0.016734, 0.007655, 0.050497, -0.048831, 0.051931, 0.011606, 0.104353, -0.050758, -0.030553, -0.004768, -0.007602, -0.024538, -0.083503, -0.046872, -0.047486, -0.003219, 0.037014, 0.032105, -0.01859, -0.006174, 0.013866, -0.031887, -0.077368, -0.011684, 0.06199, 0.037098, -0.033546, 0.018712, -0.04235, 0.029585, -0.052935, 0.003211, -0.038907, 0.037388, 0.032979, 0.04544, 0.072461, 0.020151, 0.028, -0.007131, 0.008131, 0.054646, -0.034181, -0.007923, 0.051225, -0.039362, 0.038608, 0.013411, -0.046317, 0.041915, -0.004213, 0.013793, 0.017421],
    [0.109832, 0.024602, -0.006681, 0.05454, -0.030654, 0.023396, -0.008013, 0.096602, -0.038959, 0.009047, 0.048082, 0.036626, -0.033825, -0.080041, -0.01847, 0.003849, -0.023484, -0.00131, -0.007343, 0.029548, -0.021031, 0.007065, 0.005507, 0.024395, -0.002628, -0.03869, -0.049388, 0.061538, -0.017867, 0.0357, 0.098259, 0.047082, -0.034845, -1.1e-05, -0.015752, 0.03021, -0.059872, -0.037898, 0.023384, -0.018897, -0.006939, -0.028289, -0.001738, -0.035196, -0.013552, 0.051697, -0.005421, 0.090495, -0.040097, -0.002989, 0.062086, -0.000977, 0.003384, 0.005752, -0.014299, 0.024509, 0.008233, 0.001369, -0.120498, -0.004712, 0.020766, -0.025266, -0.002964, -0.103616],
    [-0.049492, -0.07951, -0.028592, 0.034046, 0.008504, 0.071928, -0.011697, 0.020485, 0.003208, 0.058431, -0.071118, 0.066633, -0.038022, 0.010873, 0.013574, 0.075127, 0.04419, -0.03833, 0.050055, 0.008174, 0.039799, -0.038248, -0.005975, -0.036887, -0.056515, 0.054944, 0.024868, 0.010711, 0.013557, -0.088952, -0.022917, -0.023877, 0.01009, -0.017801, 0.065299, -0.033185, 0.002352, 0.01882, 0.046705, 0.00962, -0.022238, -0.027036, -0.026934, 0.022617, -0.017156, -0.040849, 0.011897, -0.0253, -0.040771, -0.037255, 0.023409, -0.016468, -0.048101, 0.029586, 0.027248, -0.022345, -0.018803, 0.074945, 0.069913, -0.05437, -0.04865, 0.006214, -0.012675, -0.020023],
    [0.040425, -0.023501, -0.048704, 0.015981, 0.01035, 0.013709, -0.074173, 0.060905, -0.022171, 0.023641, 0.039553, -0.051775, -0.035931, 0.021439, -0.024837, -0.038578, -0.042183, 0.058574, -0.021086, -0.026791, 0.004425, -0.052984, 0.039255, 0.05965, -0.037786, -0.016091, -0.070569, 0.055621, -0.0259, 0.002579, -0.029831, -0.038008, -0.021818, 0.018817, 0.10887, 0.022511, -0.171209, 0.030027, 0.052652, 0.053941, -0.078949, 0.03329, 0.12724, 0.050092, 0.009592, 0.012866, -0.007238, -0.031392, -0.032334, -0.047285, 0.023875, 0.036952, -0.035693, 0.044059, 0.010119, 0.027323, 0.014644, -0.007227, -0.000801, -0.027425, -0.007912, -0.001186, -0.001068, 0.012305],
    [0.024004, -0.012596, -0.075409, -0.011625, -0.043227, 0.022315, -0.007218, 0.030376, 0.037237, -0.015064, 0.001669, -0.074845, -0.003215, -0.031501, 0.015165, -0.045905, -0.042386, 0.007496, 0.029904, -0.029785, -0.007851, 0.003228, -0.024914, 0.004429, 0.037943, 0.100436, -0.031797, 0.034212, -0.040301, 0.058669, -0.100302, 0.040972, 0.073872, -0.05946, -0.032831, -0.005346, 0.038358, 0.013715, -0.036374, 0.0428, -0.024867, -0.068905, -0.0278, 0.022463, -0.020015, 0.0208, 0.015342, -0.00641, 0.018999, 0.079146, 0.066899, -0.032498, 0.042473, -0.004703, -0.016203, -0.035466, 0.098444, 0.006391, 0.031149, -0.005861, 0.040799, -0.044246, -0.043479, -0.010589],
    [0.014719, -0.021641, -0.025138, 0.00617, 0.019909, 0.038366, -0.040283, -0.03885, 0.034903, -0.011209, 0.036056, -0.029413, 0.014441, 0.032947, -0.025369, -0.013112, 0.037338, 0.016664, 0.005283, 0.013519, -0.065292, -0.081098, 0.041102, -0.019777, 0.016474, -0.016681, 0.038665, 0.091913, -0.027376, -0.020671, 0.003505, -0.015727, 0.06076, -0.059624, 0.005843, -0.020686, -0.003515, -0.029322, -0.057487, -0.022168, 0.047002, 0.055149, 0.054776, -0.009691, 0.038317, -0.045759, -0.033566, -0.03053, 0.061226, 0.015534, -0.060969, -0.036251, 0.053866, 0.023105, 0.036407, -0.007688, -0.02688, 0.054054, -0.009395, -0.02193, 0.013225, 0.052834, 0.068129, 0.110776],
    [0.015259, -0.065645, 0.037551, -0.030618, 0.048543, 0.082203, -0.047363, -0.044604, 0.056537, 0.017247, 0.037059, 0.031955, 0.010658, 0.010312, 0.066365, -0.030828, 0.013078, -0.112579, -0.058648, -0.032604, 0.015606, 0.059474, -0.003123, -0.017879, 0.017001, 0.075869, 0.022642, 0.016754, -0.049658, -0.034583, 0.062962, -0.01583, -0.005959, 0.002558, 0.026144, -0.015326, -0.009849, -0.043909, 0.011174, 0.050964, 0.011215, 0.010479, -0.031609, 0.009079, 0.014385, 0.034168, -0.017987, 0.045859, -0.047687, -0.019475, -0.041236, -0.000884, 0.101271, -0.034578, -0.010709, 0.006355, -0.051502, -0.042065, 0.071415, -0.012943, 0.043184, 0.07417, -0.040208, -0.073125],
    [-0.004882, 0.028823, 0.043682, 0.002194, 0.047921, 0.043997, -0.07281, 0.010292, 0.003143, -0.061779, 0.059388, -0.000246, -0.009525, -0.077539, -0.026346, 0.010968, 0.009041, 0.026431, 0.026947, -0.059018, 0.073646, 0.033733, -0.026052, -0.026129, 0.022153, -0.018489, 0.032754, 0.052006, 0.066101, -0.014064, -0.025142, -0.003388, 0.014564, 0.071165, 0.020364, 0.004732, 0.010834, 0.080026, 0.0201, -0.025177, 0.000352, -0.032555, -0.004955, -0.072179, -0.077087, -0.011441, 0.034681, 0.001179, -0.023263, -0.058805, -0.026398, 0.00503, -0.054592, -0.034792, -0.024087, -0.020548, -0.042489, 0.022041, -0.003672, 0.036179, -0.010756, 0.005691, -0.030239, 0.053],
    [-0.041254, 0.06179, 0.003202, -0.047494, -0.050884, 0.023604, -0.019681, 0.019798, 0.004345, 0.12498, -0.052769, -0.023518, 0.03463, 0.003322, 0.026572, 0.073754, 0.007442, -0.015953, 0.036135, 0.005158, 0.035131, -0.019889, -0.043627, 0.067032, -0.023444, 0.040097, -0.021142, -0.01073, 0.01127, 0.006105, -0.014969, 0.007354, 0.034342, 0.089618, 0.049865, -0.018907, 0.059486, -0.12386, -0.079288, 0.014465, 0.012562, 0.049306, 0.092092, 0.039959, -0.064541, -0.041505, -0.005708, 0.024315, 0.00485, 0.00981, -0.008012, 0.019044, 0.038641, -0.030291, 0.049374, 0.020456, -0.022159, 0.048841, -0.084465, 0.036025, -0.065801, -0.061915, 0.024613, -0.003186],
    [-0.045673, 0.019684, -0.030644, -0.025971, -0.023336, -0.047689, 0.035309, -0.070028, -0.040336, -0.080539, -0.025885, -0.03195, -0.045094, -0.021648, -0.037163, -0.066846, -0.023563, 0.001843, 0.055477, 0.041603, -0.013049, -0.015397, 0.010436, -0.025487, 0.024173, 0.016906, -0.03584, -0.065978, -0.00424, -0.01611, 0.062688, -0.087178, 0.027376, -0.008167, -0.015093, -0.066496, -0.027268, -0.038181, -0.023179, -0.016242, 0.034376, 0.043569, 0.034755, -0.074558, 0.041272, 0.038, 0.026265, 0.009776, -0.007441, 0.045891, -0.030269, -0.03709, -0.018905, -0.079541, -0.051592, -0.081478, 0.040508, -0.002267, 0.0241, 0.008, -0.031316, 0.011603, 0.022506, -0.02239],
]


def ann_ivf_pinned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7b companion — IVF probe-and-rerank made driver-verifiable:
    ``ann_ivf_topk``'s builder (one assignment scan against broadcast
    centroids, per-query explode to the N_PROBE nearest cells,
    list_id equi-join, exact-cosine re-rank to TOP_K) applied to the
    FROZEN quantizer ``IVF_PINNED_CENTROIDS``, so DuckDB can replay
    assignment, probe selection, and re-rank value-for-value.
    Cell-boundary float safety is measured, not assumed:
    tests/test_properties.py asserts the minimum gap between every
    query's N_PROBE-th and (N_PROBE+1)-th nearest cell distance and
    between corpus argmin gaps, orders above double reassociation
    error. The iterative FIT itself stays rows-only in the parent key
    — exactly the split the SemDeDup pair, so the quantizer-freshness
    question (T50) remains the operator family's own concern."""
    return _ivf_topk(with_norm(load_table(spark, sf_dir, "embeddings")), IVF_PINNED_CENTROIDS)


ORACLES["ann_ivf_pinned_topk"] = _topk_oracle(
    EMB_ELEMS_CTES, _ivf_ctes(IVF_PINNED_CENTROIDS, N_PROBE)
)


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7e — ANN quality evaluation: recall@k of the pinned-IVF
    search (``ann_ivf_pinned_topk``) against the exact brute-force
    ground truth (``ann_cosine_topk``), per query, next to the cost
    that bought it — candidates scanned vs corpus size. This is the
    recall-vs-scan-fraction curve an operator of a 100 TB index reads
    before touching N_PROBE: recall too low at acceptable scan_frac →
    probe more cells (linear cost); scan_frac drifting up at fixed
    probes → lists have gone lopsided, schedule the quantizer refit
    (T50's report says why).

    Integer-exact by construction: n_hits is the cardinality of a
    set intersection of two top-k frames that each already replay
    value-for-value in the oracle (their k-boundary float margins are
    MEASURED in tests/test_properties.py); n_candidates counts the
    probe equi-join's rows. The only derived floats are the two
    ratios, computed from identical integers on both engines.

    Scale shape: two scans of the corpus (assignment + exact twin's
    broadcast-queries pass) and one N_QUERIES-bounded join — the
    evaluation never exceeds the cost of the searches it audits; at
    100 TB you run it on a sampled query set, not sampled corpus
    (ground truth must be exact, queries are the free knob).
    Ref: reference has no ANN surface; evaluation discipline follows
    the recall tests pinning T7/T7b since r3."""
    from proceso_de_etl_spark.operators.ml import assign_clusters

    exact_top = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf_top = ann_ivf_pinned_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        ivf_top.join(exact_top, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("nh"))
    )

    # candidate-scan cost: the same probe fan-out as the search, its
    # list_id equi-join's rows counted per query
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = assign_clusters(emb, IVF_PINNED_CENTROIDS).select(
        F.col("vec_id").alias("neighbor_id"), F.col("cluster").alias("list_id")
    )
    cand_counts = (
        _probe_pairs(
            corpus,
            emb.filter(F.col("vec_id") < N_QUERIES),
            IVF_PINNED_CENTROIDS,
            N_PROBE,
            F.col("vec_id").alias("query_id"),
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("nc"))
    )
    total = emb.agg(F.count("*").alias("n_corpus"))

    base = exact_top.select("query_id").distinct()
    return (
        base.crossJoin(F.broadcast(total))
        .join(hits, "query_id", "left")
        .join(cand_counts, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("nh", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(F.coalesce("nh", F.lit(0)) / F.lit(float(TOP_K)), 6).alias(
                "recall_at_k"
            ),
            F.coalesce("nc", F.lit(0)).cast("bigint").alias("n_candidates"),
            F.round(
                F.coalesce("nc", F.lit(0)) / (F.col("n_corpus") - F.lit(1.0)), 6
            ).alias("scan_frac"),
        )
    )


# the two audited searches are embedded whole as scoped CTEs (the
# ab_test_battery composition discipline); the probe fan-out is
# recounted from the shared IVF stage
ORACLES["ann_recall_eval"] = f"""
WITH xtop AS ({ORACLES["ann_cosine_topk"].strip()}),
itop AS ({ORACLES["ann_ivf_pinned_topk"].strip()}),
{EMB_ELEMS_CTES},
{_ivf_ctes(IVF_PINNED_CENTROIDS, N_PROBE)},
hits AS (
  SELECT t.query_id, COUNT(*) AS nh
  FROM itop t JOIN xtop x USING (query_id, neighbor_id) GROUP BY 1
),
candn AS (SELECT query_id, COUNT(*) AS nc FROM pairs GROUP BY 1),
total AS (SELECT COUNT(*) AS n_corpus FROM embeddings),
base AS (SELECT DISTINCT query_id FROM xtop)
SELECT b.query_id,
       CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_hits,
       ROUND(COALESCE(h.nh, 0) / {float(TOP_K)!r}, 6) AS recall_at_k,
       CAST(COALESCE(c.nc, 0) AS BIGINT) AS n_candidates,
       ROUND(COALESCE(c.nc, 0) / (t.n_corpus - 1.0), 6) AS scan_frac
FROM base b CROSS JOIN total t
LEFT JOIN hits h ON h.query_id = b.query_id
LEFT JOIN candn c ON c.query_id = b.query_id
"""


def ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T50 — incremental IVF index maintenance: a new embedding batch
    (odd vec_ids) joins an index whose coarse quantizer was fitted on
    the EXISTING corpus only (even vec_ids) — one assignment scan of
    the batch, NO refit, no touch of the already-indexed corpus. This
    is how a growing 100 TB corpus stays searchable between periodic
    re-trainings: batch inserts are O(batch), and the only global
    work ever needed is the scheduled quantizer refresh.

    The report is the index-health view that decides WHEN to refresh:
    per-list corpus/batch occupancy plus each side's mean distance to
    its centroid — batch mean-distance drifting above the corpus's
    means the quantizer no longer fits the data distribution.
    (Rows-only: float distances off a float-iterative fit; the unit
    test pins that searching the MERGED index keeps recall vs the
    exact twin, i.e. new vectors are retrievable immediately.
    ``ann_ivf_incremental_pinned`` is the value-oracled twin: same
    insert math against the FROZEN T7b2 quantizer, exact-integer
    report.)"""
    from proceso_de_etl_spark.operators.ml import (
        assign_clusters,
        dists_over_matrix,
        kmeans_fit,
        with_broadcast_value,
    )

    emb = with_norm(load_table(spark, sf_dir, "embeddings"))
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    centroids = kmeans_fit(corpus, k=N_LISTS, n_iter=3)

    def side_stats(df: DataFrame, label: str) -> DataFrame:
        return (
            with_broadcast_value(
                assign_clusters(df, centroids), centroids, "_cmat", "array<array<double>>"
            )
            .withColumn(
                "d", F.array_min(dists_over_matrix(F.col("embedding"), F.col("_cmat")))
            )
            .groupBy(F.col("cluster").alias("list_id"))
            .agg(
                F.count("*").alias(f"n_{label}"),
                F.round(F.avg("d"), 4).alias(f"mean_dist_{label}"),
            )
        )

    return (
        side_stats(corpus, "corpus")
        .join(side_stats(batch, "batch"), "list_id", "full_outer")
        .select(
            "list_id",
            F.coalesce("n_corpus", F.lit(0)).alias("n_corpus"),
            F.coalesce("n_batch", F.lit(0)).alias("n_batch"),
            "mean_dist_corpus",
            "mean_dist_batch",
        )
        .orderBy("list_id")
    )


# T50 twin (r9): the pinned quantizer in exact ×2^48 integer form,
# computed ONCE here and injected identically into both engines —
# no engine-side rounding of centroids at all. (round() ties are
# irrelevant: whatever Python picks becomes the single canonical
# value both engines consume.)
IVF_PINNED_CENTROIDS_Q48: list[list[int]] = [
    [int(round(v * float(DOT_SCALE))) for v in c] for c in IVF_PINNED_CENTROIDS
]
Q48_SHIFT = 1 << 24  # per-element diff downshift before squaring
IVF_DRIFT_SCALE = 10**6  # drift ratio reported in ppm


def ann_ivf_incremental_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T50 companion — incremental IVF maintenance made
    driver-verifiable (r8 verdict item 6, the last twin-less
    rows-only key): the frozen existing quantizer is
    ``IVF_PINNED_CENTROIDS`` (T7b2's literals), the insert batch is
    the odd vec_ids, the already-indexed corpus the even ones. One
    assignment scan (argmin against broadcast centroids — the pure
    insert math; only the quantizer REFIT is float-iterative, and it
    stays rows-only in the parent key) produces the index-health
    report that decides WHEN to refresh: per-list corpus/batch
    occupancy plus each side's mean quantized distance to its
    centroid, and their ratio in ppm — drift_ppm ≫ 1e6 on a list
    means the arriving data no longer fits that cell.

    Exactness discipline: distances for the REPORT are computed on
    exact integers — embeddings via the measured-integral ×2^48
    scaling (scaled_int_embedding), centroids as Python-precomputed
    ×2^48 BIGINTs (no engine-side rounding), per-element diffs
    downshifted by 2^24 (truncating div, identical in Spark `div`
    and DuckDB `//`) so squares fit BIGINT, row sums exact BIGINT,
    per-list sums DECIMAL(38,0)/HUGEINT (the A105/chi2 rule), and
    every reported mean/ratio one exact integer divide. The
    ASSIGNMENT replays the same float-argmin as T7b2 (margins pinned
    in tests/test_properties.py).

    Scale: one corpus scan + one 16-group aggregate; the quantizer
    rides in as a 16×64 broadcast. At 100 TB the batch-side stats
    cost O(batch) and the corpus-side stats are a once-per-epoch
    scan (or maintained incrementally by summing per-batch
    partials — the same exact-integer state this report emits)."""
    from proceso_de_etl_spark.operators.ml import assign_clusters, with_broadcast_value

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned = assign_clusters(emb, IVF_PINNED_CENTROIDS).select(
        "vec_id", "embedding", F.col("cluster").alias("list_id")
    )
    assigned = with_broadcast_value(
        assigned, IVF_PINNED_CENTROIDS_Q48, "_qmat", "array<array<bigint>>"
    )
    rowd = (
        assigned.withColumn("_xq", scaled_int_embedding(F.col("embedding")))
        .withColumn("_cq", F.element_at("_qmat", (F.col("list_id") + 1).cast("int")))
        .withColumn(
            "d2q",
            F.expr(
                f"aggregate(zip_with(_xq, _cq, (a, b) -> ((a - b) div {Q48_SHIFT})"
                f" * ((a - b) div {Q48_SHIFT})), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ),
        )
        .select("vec_id", "list_id", "d2q")
    )
    even = F.col("vec_id") % 2 == 0
    stats = rowd.groupBy("list_id").agg(
        F.sum(F.when(even, 1).otherwise(0)).cast("bigint").alias("n_corpus"),
        F.sum(F.when(~even, 1).otherwise(0)).cast("bigint").alias("n_batch"),
        F.sum(F.when(even, F.col("d2q")).otherwise(F.lit(0)).cast("decimal(38,0)")).alias(
            "sum_c"
        ),
        F.sum(F.when(~even, F.col("d2q")).otherwise(F.lit(0)).cast("decimal(38,0)")).alias(
            "sum_b"
        ),
    )
    return stats.select(
        "list_id",
        "n_corpus",
        "n_batch",
        F.expr(
            "CASE WHEN n_corpus > 0 THEN CAST(sum_c div n_corpus AS BIGINT) END"
        ).alias("mean_qdist_corpus"),
        F.expr(
            "CASE WHEN n_batch > 0 THEN CAST(sum_b div n_batch AS BIGINT) END"
        ).alias("mean_qdist_batch"),
        F.expr(
            "CASE WHEN n_batch > 0 AND n_corpus > 0 AND sum_c div n_corpus > 0 THEN "
            f"CAST(CAST(sum_b div n_batch AS DECIMAL(38,0)) * {IVF_DRIFT_SCALE}"
            " div (sum_c div n_corpus) AS BIGINT) END"
        ).alias("drift_ppm"),
    ).orderBy("list_id")


ORACLES["ann_ivf_incremental_pinned"] = f"""
WITH {EMB_ELEMS_CTES},
{_ivf_ctes(IVF_PINNED_CENTROIDS)},
qcents(list_id, qw) AS (VALUES {sql_matrix_values(IVF_PINNED_CENTROIDS_Q48, "BIGINT")}),
qcentel AS (SELECT list_id, unnest(range(1, len(qw) + 1)) AS i, unnest(qw) AS cq FROM qcents),
rowd AS (
  SELECT e.vec_id, a.list_id,
         SUM(((CAST(round(e.x * {float(DOT_SCALE)!r}) AS BIGINT) - qc.cq) // {Q48_SHIFT})
           * ((CAST(round(e.x * {float(DOT_SCALE)!r}) AS BIGINT) - qc.cq) // {Q48_SHIFT})) AS d2q
  FROM elems e JOIN assign a USING (vec_id)
  JOIN qcentel qc ON qc.list_id = a.list_id AND qc.i = e.i
  GROUP BY 1, 2
),
stats AS (
  SELECT list_id,
         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corpus,
         CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_batch,
         SUM(CASE WHEN vec_id % 2 = 0 THEN CAST(d2q AS HUGEINT) ELSE 0 END) AS sum_c,
         SUM(CASE WHEN vec_id % 2 = 1 THEN CAST(d2q AS HUGEINT) ELSE 0 END) AS sum_b
  FROM rowd GROUP BY 1
)
SELECT list_id, n_corpus, n_batch,
       CASE WHEN n_corpus > 0 THEN CAST(sum_c // n_corpus AS BIGINT) END AS mean_qdist_corpus,
       CASE WHEN n_batch > 0 THEN CAST(sum_b // n_batch AS BIGINT) END AS mean_qdist_batch,
       CASE WHEN n_batch > 0 AND n_corpus > 0 AND sum_c // n_corpus > 0 THEN
         CAST(CAST(sum_b // n_batch AS HUGEINT) * {IVF_DRIFT_SCALE} // (sum_c // n_corpus) AS BIGINT) END AS drift_ppm
FROM stats ORDER BY list_id
"""


PQ_M = 4  # subspaces (64-dim embedding → 16 dims each)
PQ_K = 16  # codebook size per subspace (4-bit codes)
PQ_RERANK = 80  # ADC candidates re-ranked exactly per query (recall 0.87 vs exact at gate SF; 50 gave 0.79)


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7c — product-quantization ANN (asymmetric distance
    computation), the compression-side scale path next to LSH (T7)
    and IVF (T7b): vectors are L2-normalized, each 64-dim vector is
    encoded as PQ_M 4-bit codes (argmin against a per-subspace
    k-means codebook), and candidate scoring reads PQ_M table lookups
    per pair instead of 64 multiplies — at 100 TB the encoded corpus
    is ~32× smaller than the float vectors (4 bytes of codes vs 256
    of floats) and the scan is memory-bandwidth-, not FLOP-, bound.
    Queries keep full precision: each computes its own K×M distance
    table (the "asymmetric" in ADC), candidates rank by summed
    lookups, and the top PQ_RERANK re-rank with exact cosine.

    All JVM-side: codebooks are driver-held literals
    (M × K × dim/M doubles), encoding is one scan of array
    expressions, the ADC scan joins the code table against the
    broadcast query set. Deterministic like IVF (k-means init =
    lowest vec_ids). (Rows-only: lossy by construction; the recall
    test pins it against ann_cosine_topk.)"""
    emb = _normalized_embeddings(spark, sf_dir)
    return _pq_search(emb, _fit_codebooks(emb), PQ_RERANK)


# Frozen PQ codebooks for the driver-verifiable ADC companion: fit
# ONCE by ml.kmeans_fit (k=PQ_K, 3 iters, per 16-dim subspace of the
# L2-NORMALIZED vectors — byte-identical recipe to ann_pq_topk) on
# the sf0.01 embeddings, rounded to 6dp so the literals parse to the
# same doubles in Spark and DuckDB. Same freeze-the-geometry move as
# IVF_PINNED_CENTROIDS: the iterative FIT stays rows-only in the
# parent key; this pins encode → asymmetric-distance scan → re-rank.
PQ_PINNED_CODEBOOKS: list[list[list[float]]] = [
    [  # subspace 0 (dims 1-16 of the normalized vector)
        [0.001746, 0.053737, 0.004728, -0.13281, 0.072767, -0.027807, -0.011407, -0.006796, 0.106089, -0.008354, -0.050972, -0.009497, -0.069051, -0.02192, -0.035012, 0.006391],
        [-0.086948, 0.011712, 0.093352, 0.011177, 0.020698, -0.008775, -0.082218, 0.02325, -0.076187, 0.00304, -0.094686, 0.036683, 0.069651, -0.084918, 0.074406, -0.001596],
        [0.003991, -0.060242, -0.103657, 0.025016, -0.011961, -0.017806, 0.093257, 0.034835, -0.031186, -0.143079, -0.006852, 0.004164, -0.040062, 0.073271, -0.000995, 0.10647],
        [-0.000636, 0.075384, 0.052599, 0.035119, 0.075325, -0.044773, 0.06242, 0.032393, -0.070679, 0.039598, -0.038888, 0.090106, 0.015724, 0.16255, -0.027673, 0.019382],
        [-0.031505, -0.038038, 0.047492, 0.002591, -0.021181, -0.206522, 0.101939, 0.066237, -0.046739, 0.120134, 0.059713, -0.004864, 0.014926, -0.035714, 0.095425, 0.05855],
        [0.009033, -0.107314, 0.059394, -0.002085, 0.05053, -0.000361, 0.002792, 0.078449, -0.037682, 0.06509, 0.128901, -0.064178, 0.037155, -0.022291, -0.058666, -0.059735],
        [-0.118804, -0.026704, -0.017141, -0.092385, -0.077598, 0.078059, -0.007265, 0.028184, 0.028498, 0.127959, 0.106274, 0.050096, -0.058641, 0.122673, 0.016995, -0.016904],
        [0.151062, 0.064442, -0.030095, 0.018865, -0.020362, 0.008819, -0.009799, 0.137072, -0.069639, -0.057058, -0.041732, -0.024065, -0.025998, -0.026108, 0.00476, -0.110916],
        [0.028794, -0.074997, -0.011153, 0.024475, 0.010351, 0.070353, -0.163617, 0.027791, 0.040458, 0.101427, -0.085764, 0.065395, 0.09405, 0.007978, -0.060523, 0.155424],
        [0.03202, -0.011293, 0.008841, 0.041589, -0.045078, 0.10295, 0.014437, -0.031585, -0.03903, 0.033336, -0.01718, 0.062877, -0.132429, -0.009215, -0.090271, -0.032355],
        [0.0972, 0.019667, -0.144955, -0.050123, -0.009812, 0.050951, -0.000886, -0.037873, 0.002414, -0.075308, 0.085247, -0.008767, 0.107181, -0.031447, 0.090545, -0.084763],
        [-0.063899, -0.012395, -0.063949, 0.041131, 0.067937, -0.00024, -0.093585, -0.165104, -0.017849, -0.011197, 0.072143, -0.025837, -0.03057, 0.068252, -0.023172, -0.0065],
        [0.095939, 0.007754, 0.084871, -0.030193, 0.089299, 0.135426, -0.078741, 0.021406, 0.054086, -0.063984, 0.10719, 0.039031, 0.097861, -0.000197, 0.021411, 0.111643],
        [0.03172, 0.052301, 0.026347, 0.088521, -0.021151, 0.020545, -0.084011, -0.012981, 0.008172, -0.106718, 0.048237, -0.081206, 0.000867, -0.152335, -0.031635, 0.07095],
        [-0.012134, -0.010175, -0.02036, -0.039391, 0.024866, 0.067136, -0.002516, 0.01185, 0.119895, 0.10749, -0.065248, -0.002252, 0.010928, -0.037616, 0.162421, -0.002063],
        [-0.062557, 0.001943, 0.021615, -0.023396, -0.140917, -0.11588, -0.074688, -0.027392, -0.002025, -0.113956, -0.022699, -0.068507, -0.028195, 0.05883, -0.046877, -0.115602],
    ],
    [  # subspace 1 (dims 17-32 of the normalized vector)
        [-0.013071, 0.002013, 0.039929, 0.021624, -0.16151, -0.05442, -0.003663, -0.001183, 0.060983, 0.066973, 0.121364, -0.074521, 0.022896, 0.172923, 0.015038, 0.068471],
        [-0.046382, 0.056881, -0.010139, -0.019659, 0.044254, 0.099596, 0.02316, -0.145831, 0.023523, 0.078708, -0.084974, -0.072598, -0.040296, 0.097998, -0.146139, 0.070578],
        [-0.136209, -0.075124, -0.135273, -0.028259, 0.003142, 0.0452, 0.041055, 2.7e-05, -0.012312, -0.009858, -0.054964, -0.058698, 0.068765, 0.079499, -0.039561, -0.118546],
        [-0.040131, 0.035314, 0.051227, 0.067145, 0.009286, 0.066715, -0.049146, 0.011191, -0.044448, -0.042632, -0.00528, -0.121538, -0.109667, -0.021359, -0.057177, 0.008162],
        [0.047266, 0.071205, 0.046446, -0.034596, -0.060354, 0.121381, -0.009015, 0.054685, -0.018804, -0.026941, 0.08679, -0.020071, 0.105629, -0.056155, 0.034508, 0.047222],
        [0.108455, -0.068361, -0.099866, 0.029014, 0.005794, -0.033319, -0.030216, -0.006184, 0.12023, 0.063994, 0.013812, 0.004347, 0.08797, 0.062534, 0.058784, -0.097604],
        [-0.023056, 0.115084, -0.041215, 0.021605, 0.064899, -0.051561, -0.020607, -0.041453, -0.026149, -0.086927, 0.018704, 0.082278, 0.034637, 0.014242, 0.020823, -0.06504],
        [0.063162, -0.022806, -0.050004, 0.07128, -0.056114, 0.019802, 0.091966, 0.077019, 0.027777, -0.06933, -0.058798, 0.078183, -0.022708, 0.04651, 0.109582, 0.052504],
        [0.005936, -0.006409, 0.059237, 0.040316, 0.079218, -0.055881, 0.147731, -0.020142, -0.06902, 0.145966, 0.023212, -0.002372, 0.001024, -0.155898, -0.061617, 0.041197],
        [0.034979, -0.010981, 0.058782, -0.076, -0.037758, -0.018567, 0.047798, 0.162413, 0.023957, -0.114605, -0.069499, 0.002099, -0.05568, -0.118635, 0.002367, -0.040657],
        [-0.035388, 0.074211, 0.04197, -0.019136, -0.06782, 0.019845, 0.018367, -0.024398, 0.085044, 0.113617, -0.071055, 0.097861, -0.021084, 0.05205, -0.102046, -0.00233],
        [0.12593, -0.006429, -0.048393, -0.07285, -0.021376, -0.043642, 0.06485, -0.088688, 0.065469, 0.05227, 0.091285, 0.006972, -0.103622, -0.003808, -0.074112, 0.072525],
        [-0.00187, -0.092451, -0.096356, -0.070184, -0.021906, 0.067608, -0.014767, -0.022864, -0.058056, 0.146379, -0.005921, 0.009898, -0.010444, -0.089197, 0.122235, -0.092416],
        [-0.010643, 0.027316, 0.078109, -0.120261, 0.125334, 0.030857, 0.067045, -0.189259, 0.014941, -0.049633, 0.008656, 0.001939, 0.004198, -0.061561, 0.024838, 0.014532],
        [0.012406, -0.054858, 0.036901, 0.039374, 0.047837, -0.044833, -0.087492, 0.036734, -0.098041, 0.033935, -0.034135, 0.060435, 0.057659, 0.031467, -0.071172, 0.053119],
        [-0.088104, 0.025891, 0.049798, 0.067316, -0.042977, -0.038463, -0.005547, -0.037717, -0.006705, 0.024875, -0.017739, -0.006868, -0.104512, -0.037404, 0.122276, -0.066536],
    ],
    [  # subspace 2 (dims 33-48 of the normalized vector)
        [-0.062228, -0.080404, -0.02108, -0.02822, -0.022032, 0.002976, 0.087638, 0.004128, 0.072518, 0.028678, -0.066295, -0.030776, -0.028119, 0.09468, -0.002318, -0.090576],
        [0.010628, -0.024488, -0.018235, 0.020516, -0.089793, -0.05025, 0.022111, -0.149036, -0.050336, -0.023975, 0.07113, 0.055718, 0.020268, 0.022378, -0.070508, -0.087924],
        [-0.002157, -0.011708, 0.014508, 0.045332, 0.004832, 0.072861, -9.2e-05, 0.050911, -0.004365, 0.038523, 0.169119, 0.063856, -0.069598, 0.020413, 0.020379, -0.093843],
        [0.127508, 0.025035, -0.026554, 0.033212, -0.021478, -0.033719, 0.048815, -0.086799, 0.013507, -0.07372, -0.16252, 0.034636, -0.008035, 0.031975, 0.039849, -0.00276],
        [-0.082601, -0.015436, 0.049571, -0.085214, -0.051462, 0.011412, -0.091538, -0.09208, 0.030186, 0.019166, -0.083614, -0.013517, 0.038161, 0.029832, -0.064099, 0.100068],
        [0.018179, -0.031307, -0.079545, 0.112398, 0.075891, 0.064651, -0.002382, 0.034272, -0.043229, 0.090538, -0.08964, 0.047096, -0.078824, -0.051824, 0.075768, 0.012223],
        [-0.069742, -0.073168, -0.020357, 0.10535, 0.126276, 0.008829, 0.016539, 0.027137, 0.046688, -0.079242, 0.033105, -0.120218, 0.074651, 0.011941, 0.045477, 0.092838],
        [-0.044755, -0.023727, -0.048087, -0.005507, -0.080923, -0.033211, 0.003034, 0.063042, -0.02775, -0.111848, 0.020756, 0.035168, -0.042792, 0.067624, 0.019637, 0.096085],
        [-0.035961, 0.029536, 0.147752, -0.007501, 0.001203, 0.039022, 0.084033, -0.042936, -0.058207, -0.091577, 0.012979, -0.021337, 0.015514, -0.067662, 0.008879, -0.024838],
        [-0.04691, 0.009686, 0.108176, 0.090889, -0.310234, -0.023796, -0.055889, 0.205168, -0.025989, 0.013811, 0.229611, 0.041929, -0.117286, 0.016668, -0.019098, -0.104584],
        [0.128731, -0.020635, 0.037309, 0.006485, 0.041351, 0.075777, -0.065948, 0.092069, -0.101576, -0.107833, -0.075357, -0.026984, -0.006753, 0.022629, 0.071668, -0.096423],
        [0.056906, -0.075309, -0.014756, 0.046857, 0.033139, -0.115306, -0.144519, -8e-05, 0.158313, -0.001298, 0.052176, -0.03257, 0.002594, -0.023265, -0.066249, -0.027837],
        [0.059205, 0.074518, -0.027536, -0.055052, 0.019577, -0.035923, -0.046166, 0.106062, 0.029354, 0.00076, -0.020599, 0.123599, 0.032436, -0.068723, -0.070987, 0.061478],
        [0.082084, 0.08336, 0.003425, -0.05652, -0.003369, 0.147624, 0.001238, -0.038232, -0.030154, -0.032644, -0.018955, -0.11147, -0.140371, 0.015254, -0.148759, 0.003923],
        [0.075981, 0.197309, -0.008937, 0.027858, 0.05887, -0.091883, -0.040898, -0.074262, -0.034211, 0.023515, 0.083968, -0.067946, 0.040377, -0.045821, 0.08381, 0.067614],
        [0.043998, -0.039828, 0.045997, -0.140164, -0.037749, -0.11, 0.078696, 0.039659, -0.013247, 0.129095, 0.057834, -0.065185, 0.02025, -0.021784, 0.03912, 0.050271],
    ],
    [  # subspace 3 (dims 49-64 of the normalized vector)
        [0.073169, -0.015185, -0.036875, 0.045348, 0.069949, -0.042355, -0.009315, -0.025983, -0.009755, -0.094232, -0.154426, -0.041467, -0.025194, 0.020605, 0.000589, -0.137044],
        [-0.086463, -0.083872, 0.019894, -0.016295, 0.026705, 0.060432, 0.013872, 0.05786, 0.093945, -0.01843, 0.009912, 0.050523, -0.085197, 0.012623, -0.083388, -0.05276],
        [0.085134, -0.003595, 0.114835, -0.043724, 0.058974, -0.130881, 0.122446, 0.0995, -0.031517, -0.014326, 0.024603, 0.077693, 0.034731, 0.088339, 0.028582, 0.043411],
        [0.189401, -0.239827, 0.00605, -0.035844, -0.031302, 0.127982, -0.06629, 0.009192, -0.058025, -0.117202, -0.017094, -0.015512, 0.036762, -0.008613, 0.04608, -0.063213],
        [-0.024892, -0.022317, 0.007555, 0.058759, 0.057066, 0.02762, 0.07878, -0.029907, 0.091972, -0.091326, -0.00488, -0.092311, -0.01472, 0.085725, 0.045206, 0.093213],
        [-0.03074, 0.043199, 0.051164, 0.010349, -0.014357, 0.103231, -0.185679, -0.167579, -0.005874, -0.112106, -0.019589, 0.058153, 0.020692, 0.047717, -0.020273, 0.01921],
        [-0.001129, -0.011079, -0.095475, 0.096176, -0.006568, 0.026821, -0.034036, 0.115449, -0.036609, -0.012851, 0.006493, 0.045433, -0.040227, 0.019702, 0.084307, -0.024894],
        [-0.066855, -0.042071, 0.077122, 0.046628, -0.046334, -0.086343, -0.040247, 0.081439, 0.047426, 0.125889, -0.144753, -0.078268, 0.0512, -0.121838, -0.023718, -0.038633],
        [-0.084459, -0.057022, 0.005879, 0.062935, -0.07114, 0.044621, 0.052497, -0.091525, -0.075935, 0.083565, 0.03564, -0.121284, -0.012612, -0.044617, 0.014101, -0.029373],
        [0.05824, -0.024361, -0.03665, -0.137151, -0.037722, -0.005397, -0.004196, 0.023148, 0.025436, 0.021235, 0.04801, -0.099071, 0.025222, 0.03745, 0.006661, -0.032385],
        [0.069658, 0.11943, 0.089124, 0.000256, 0.041697, -0.000654, -0.027726, -0.005414, 0.12124, 0.04561, 0.018411, 0.050501, 0.119764, -0.058127, -0.019306, 0.028092],
        [0.105214, -0.039095, -0.038407, -0.052642, 0.060527, 0.071822, 0.060841, 0.002155, -0.152423, 0.052867, -0.032071, -0.029562, -0.011061, -0.067811, 0.00785, 0.163804],
        [-0.083139, 0.041903, 0.046711, 0.005175, 0.12275, 0.008088, 0.022053, 0.04707, -0.053007, -0.066049, 0.098627, -0.040603, 0.070341, 0.040075, -0.121076, -0.101705],
        [-0.098342, -0.059353, 0.042136, 0.049939, -0.09438, -0.001118, -0.026024, 0.021589, -0.06215, -0.000692, -0.020751, 0.071476, 0.117832, 0.025479, -0.098968, 0.104113],
        [-0.107619, 0.031041, -0.008692, -0.010073, 0.021552, -0.06485, 0.057833, -0.0248, -0.049122, 0.011013, -0.130465, 0.062103, -0.051429, -0.018071, 0.090828, 0.002536],
        [0.034999, 0.019136, 0.030054, -0.034984, -0.019215, -0.082259, -0.029951, -0.1248, 0.028365, 0.022182, 0.084704, 0.061984, -0.096126, 0.000556, -0.035461, -0.091491],
    ],
]


def ann_pq_pinned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7c companion — PQ/ADC made driver-verifiable: ``ann_pq_topk``'s
    builder (normalize, per-subspace argmin encode against the
    codebooks, per-query K x M distance table, candidates rank by the
    M summed lookups, top PQ_RERANK re-rank by exact cosine) applied
    to ``PQ_PINNED_CODEBOOKS``, so DuckDB replays encoding, the ADC
    ranking, and the re-rank value-for-value. Every float decision
    this relies on is measured, not assumed
    (tests/test_properties.py::test_float_margin_guards_for_pq_pinned):
    per-(vector, subspace) argmin gap, the PQ_RERANK boundary gap per
    query (identical-code ties are exact in both engines and break by
    neighbor_id), and the TOP_K cosine boundary. The ADC sum is an
    ordered 4-term add on BOTH engines (Spark folds m=0..3; the
    oracle pivots the four lookups and adds left-to-right), so no
    unordered SUM sits on a ranking boundary."""
    return _pq_search(_normalized_embeddings(spark, sf_dir), PQ_PINNED_CODEBOOKS, PQ_RERANK)


ORACLES["ann_pq_pinned_topk"] = _topk_oracle(
    EMB_ELEMS_CTES, _ALL_PAIRS_CTE, _pq_ctes(PQ_PINNED_CODEBOOKS, PQ_RERANK), src="cand"
)


IVFPQ_N_PROBE = 6  # cells scanned per query (of N_LISTS; >T7b's 4 to offset PQ loss)
IVFPQ_RERANK = 120  # deeper than T7c's 80: the cell-pruned ADC ranking is noisier


def _ivfpq_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7d's ADC-scored candidate set read from the PROBED CELLS ONLY
    — exposed so the scale test can count the rows the scan actually
    touches (must be well under queries × corpus, the plain-PQ scan
    size)."""
    from proceso_de_etl_spark.operators.ml import kmeans_fit

    emb = _normalized_embeddings(spark, sf_dir)
    centroids = kmeans_fit(emb, k=N_LISTS, n_iter=3)
    return _adc_pairs(emb, _fit_codebooks(emb), centroids)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7d — IVF×PQ ANN, composing the two scale paths (the FAISS
    IVFPQ design point): the coarse quantizer prunes WHICH rows the
    scan touches (each query reads only its IVFPQ_N_PROBE nearest
    cells ≈ N_PROBE/N_LISTS of the corpus), and product quantization
    shrinks WHAT each touched row costs (PQ_M 4-bit codes, table
    lookups instead of float dot products). Plain PQ (T7c) still
    reads the full code table per query batch — that is ADC's design
    point, but at 100 TB the scan itself becomes the bottleneck;
    cell-pruned ADC cuts it by ~N_PROBE/N_LISTS while the exact
    re-rank of the top IVFPQ_RERANK keeps the output quality (recall vs
    the exact twin pinned ≥0.85 in tests, candidate-scan size pinned
    < queries × corpus). Same determinism as T7b/T7c (k-means init =
    lowest vec_ids, lexicographic ties)."""
    from proceso_de_etl_spark.operators.ml import kmeans_fit

    emb = _normalized_embeddings(spark, sf_dir)
    centroids = kmeans_fit(emb, k=N_LISTS, n_iter=3)
    return _pq_search(emb, _fit_codebooks(emb), IVFPQ_RERANK, centroids)


def ann_ivfpq_pinned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7d companion (r7 verdict item 6) — IVF×PQ made
    driver-verifiable: ``ann_ivfpq_topk``'s builder applied to the two
    FROZEN geometries: the pinned coarse quantizer
    (``IVF_PINNED_CENTROIDS``, T7b2's) prunes WHICH cells each query
    scans (IVFPQ_N_PROBE nearest), the pinned codebooks
    (``PQ_PINNED_CODEBOOKS``, T7c2's) price WHAT each touched row costs
    (4-term ADC lookup), and the top IVFPQ_RERANK re-rank by exact
    cosine — one assignment+encode scan, a broadcast probe join that
    touches only the probed lists, candidate-bounded re-rank — and
    every stage replays value-for-value in DuckDB, closing the ANN
    family's last composition gap (the float FITS stay rows-only in
    T7d, which remains the recall-tested twin). Float decision
    boundaries are measured, not assumed (tests/test_properties.py::
    test_float_margin_guards_for_ivfpq_pinned): the probe-set boundary
    at IVFPQ_N_PROBE, the ADC candidate boundary at IVFPQ_RERANK
    within the PROBED set, and the TOP_K cosine boundary."""
    return _pq_search(
        _normalized_embeddings(spark, sf_dir),
        PQ_PINNED_CODEBOOKS,
        IVFPQ_RERANK,
        IVF_PINNED_CENTROIDS,
    )


ORACLES["ann_ivfpq_pinned_topk"] = _topk_oracle(
    EMB_ELEMS_CTES,
    _ivf_ctes(IVF_PINNED_CENTROIDS, IVFPQ_N_PROBE),
    _pq_ctes(PQ_PINNED_CODEBOOKS, IVFPQ_RERANK),
    src="cand",
)


def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T30 — symmetric int8 embedding quantization: per-vector scale
    = 127/max|x|, codes = round(x·scale) ∈ [−127,127] — 4× smaller
    embedding storage (the standard serving/index compression next to
    PQ's 32×, but losslessly re-rankable to ~1e-2 cosine error).
    Everything is JVM array expressions in ONE scan — transform /
    array_max / zip_with, no Python, no shuffle; the output here is
    the per-vector audit (scale + max reconstruction error), which is
    what a quantization job must emit so downstream consumers can
    gate on error. round() ties go away from zero in BOTH engines
    (Spark HALF_UP, DuckDB ties-away), which is what makes the codes
    — and therefore the error column — engine-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(xd, lambda x: F.abs(x)))
    scale = F.when(absmax > 0, F.lit(127.0) / absmax).otherwise(F.lit(1.0))
    staged = emb.select("vec_id", xd.alias("xd"), scale.alias("scale"))
    codes = F.transform(F.col("xd"), lambda x: F.round(x * F.col("scale")).cast("int"))
    staged = staged.withColumn("codes", codes)
    err = F.array_max(
        F.zip_with(
            F.col("xd"), F.col("codes"), lambda x, q: F.abs(x - q.cast("double") / F.col("scale"))
        )
    )
    return staged.select(
        "vec_id",
        F.size("xd").alias("n_dims"),
        F.round(F.col("scale"), 6).alias("scale_r6"),
        F.aggregate(
            F.col("codes"), F.lit(0).cast("bigint"), lambda acc, q: acc + q.cast("bigint")
        ).alias("code_checksum"),
        F.round(err, 8).alias("max_err"),
    )


ORACLES["embedding_int8_quantize"] = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS absmax
  FROM embeddings
),
s AS (
  SELECT vec_id, xd,
         CASE WHEN absmax > 0 THEN 127.0 / absmax ELSE 1.0 END AS scale
  FROM e
),
c AS (
  SELECT vec_id, xd, scale,
         list_transform(xd, x -> CAST(round(x * scale) AS INT)) AS codes
  FROM s
)
SELECT vec_id,
       CAST(len(xd) AS INT) AS n_dims,
       ROUND(scale, 6) AS scale_r6,
       CAST(list_sum(codes) AS BIGINT) AS code_checksum,
       ROUND(list_max(list_transform(range(1, len(xd) + 1),
             i -> abs(xd[i] - CAST(codes[i] AS DOUBLE) / scale))), 8) AS max_err
FROM c
"""


SPARSE_TOPK = 5
SPARSE_N_QUERIES = 5
SPARSE_W_SCALE = 1_000_000


def ann_sparse_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T43 — sparse lexical top-k via an INVERTED INDEX (the BM25/
    TF-IDF retrieval shape — the other half of hybrid search next to
    T6's dense path): score(q,d) = Σ_t tf_q·tf_d·w(t) over shared
    terms, where w(t) = floor(1e6 / df(t)) — integer df-damped
    weights, so scores are exact BIGINTs with deterministic
    accumulation on any engine (a float idf would make the sum
    order-dependent; ln() itself differs between libm and the JVM in
    the last ulp).

    The scale shape IS the inverted index: postings = (term, doc, tf)
    from one corpus scan; candidate generation is the postings
    equi-join on term restricted to query terms — documents sharing
    no term with a query are never touched, which is why sparse
    retrieval over a 10⁹-doc corpus is feasible where dense
    brute-force is not. Stop-term pressure is bounded by the same
    DF-cap idea as decontamination (w(t) → 0 for df > 1e6 — here the
    damping itself kills ubiquitous terms)."""
    from proceso_de_etl_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    postings = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = postings.groupBy("t").agg(
        F.floor(F.lit(SPARSE_W_SCALE) / F.countDistinct("doc_id")).cast("bigint").alias("w")
    )
    weighted = postings.join(dfreq, "t")
    qside = weighted.filter(F.col("doc_id") < SPARSE_N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "t", F.col("tf").alias("qtf")
    )
    scored = (
        weighted.join(qside, "t")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("qtf") * F.col("tf") * F.col("w")).cast("bigint").alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= SPARSE_TOPK)
        .select("query_id", "rank", F.col("doc_id").alias("neighbor_id"), "score")
    )


ORACLES["ann_sparse_tfidf_topk"] = f"""
WITH postings AS (
  SELECT doc_id, t, COUNT(*) AS tf
  FROM (SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t
        FROM documents)
  GROUP BY doc_id, t
),
dfreq AS (
  SELECT t, CAST(FLOOR({SPARSE_W_SCALE} / COUNT(DISTINCT doc_id)) AS BIGINT) AS w
  FROM postings GROUP BY t
),
weighted AS (SELECT p.doc_id, p.t, p.tf, d.w FROM postings p JOIN dfreq d USING (t)),
scored AS (
  SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
         CAST(SUM(q.tf * c.tf * c.w) AS BIGINT) AS score
  FROM weighted q JOIN weighted c USING (t)
  WHERE q.doc_id < {SPARSE_N_QUERIES} AND c.doc_id <> q.doc_id
  GROUP BY q.doc_id, c.doc_id
)
SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
       doc_id AS neighbor_id, score
FROM scored
QUALIFY rank <= {SPARSE_TOPK}
"""


RRF_K0 = 60  # the standard reciprocal-rank-fusion damping constant
RRF_SCALE = 10**9  # integer score unit: contrib = SCALE // (K0 + rank)
FUSION_TOP_K = TOP_K


def ann_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T71 — reciprocal-rank fusion over the three heterogeneous ANN
    paths (exact brute-force T6, pinned-IVF T7b2, multi-table LSH
    T7): per (query, neighbor), rrf = Σ_sources SCALE // (60 + rank),
    fused top-k by (rrf desc, neighbor_id asc). This is how a 100 TB
    search tier actually serves: several indexes with different
    recall/cost points vote, and rank fusion needs NO score
    calibration across them — ranks are the only common currency.
    Exactness: the per-rank contributions are PRECOMPUTED integer
    literals (rank ∈ 1..TOP_K, so the whole map is TOP_K ints via
    element_at — no runtime division at all), the fused score is an
    exact BIGINT sum, and the oracle recomputes SCALE // (60+rank)
    with DuckDB's positive-integer division — identical by
    construction. Composition key in the ab_test_battery mold: the
    oracle embeds the three component oracles as scoped CTEs, so a
    regression in ANY path surfaces here too. n_sources (how many
    indexes voted) rides along — the operational signal for which
    neighbors only one index can see.

    Scale: the three searches share the corpus scan shapes already
    audited on their own keys; fusion itself is one union + one
    keyed agg + a per-query top-k window over ≤ 3·TOP_K candidate
    rows per query."""

    contribs = F.array(
        *[F.lit(RRF_SCALE // (RRF_K0 + r)).cast("bigint") for r in range(1, TOP_K + 1)]
    )
    parts = [
        fn(spark, sf_dir).select("query_id", "rank", "neighbor_id")
        for fn in (ann_cosine_topk, ann_ivf_pinned_topk, ann_lsh_bucketed)
    ]
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    fused = (
        u.withColumn("contrib", F.element_at(contribs, F.col("rank").cast("int")))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum("contrib").alias("rrf_scaled"),
            F.count("*").cast("bigint").alias("n_sources"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("rrf_scaled"), F.asc("neighbor_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("fused_rank") <= FUSION_TOP_K)
        .select("query_id", "fused_rank", "neighbor_id", "rrf_scaled", "n_sources")
    )


def _rank_fusion_oracle_sql() -> str:
    # each component oracle is a complete WITH...SELECT; parenthesized
    # as a CTE body its inner WITH is scoped locally (the
    # ab_test_battery composition discipline)
    return f"""
WITH exact_r AS ({ORACLES["ann_cosine_topk"].strip()}),
ivf_r AS ({ORACLES["ann_ivf_pinned_topk"].strip()}),
lsh_r AS ({ORACLES["ann_lsh_bucketed"].strip()}),
u AS (
  SELECT query_id, rank, neighbor_id FROM exact_r
  UNION ALL SELECT query_id, rank, neighbor_id FROM ivf_r
  UNION ALL SELECT query_id, rank, neighbor_id FROM lsh_r
),
fused AS (
  SELECT query_id, neighbor_id,
         CAST(SUM({RRF_SCALE} // ({RRF_K0} + rank)) AS BIGINT) AS rrf_scaled,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM u GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, rrf_scaled, n_sources,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY rrf_scaled DESC, neighbor_id ASC) AS BIGINT) AS fused_rank
  FROM fused
)
SELECT query_id, fused_rank, neighbor_id, rrf_scaled, n_sources
FROM ranked WHERE fused_rank <= {FUSION_TOP_K}
"""


ORACLES["ann_rank_fusion"] = _rank_fusion_oracle_sql()


QUERIES = {
    "ann_rank_fusion": ann_rank_fusion,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_sparse_tfidf_topk": ann_sparse_tfidf_topk,
    "embedding_int8_quantize": embedding_int8_quantize,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_pinned_topk": ann_ivf_pinned_topk,
    "ann_recall_eval": ann_recall_eval,
    "ann_pq_topk": ann_pq_topk,
    "ann_pq_pinned_topk": ann_pq_pinned_topk,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "ann_ivfpq_pinned_topk": ann_ivfpq_pinned_topk,
    "ann_ivf_incremental": ann_ivf_incremental,
    "ann_ivf_incremental_pinned": ann_ivf_incremental_pinned,
}
