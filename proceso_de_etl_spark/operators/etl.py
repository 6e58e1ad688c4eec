"""ETL-parity operators: the reference pipeline's semantics (SURVEY.md
§2.1), re-expressed as distributed Spark plans.

The reference (main.py at /root/reference) is a driver-side pandas
program: dict-based FK maps (main.py:103-115), ``isin`` validity
filters (main.py:141), set-difference placeholder synthesis
(main.py:123-127), read-the-PK-column conditional loads
(main.py:45-59). None of those survive 100 TB — every one is
re-expressed here as a join:

    dict FK map        → broadcast hash join against the dimension
    isin filter        → left-semi join
    set difference     → left-anti join
    conditional load   → left-anti join on PK against the sink
    duplicated(email)  → window count over the key
    drop_duplicates    → row_number over a deterministic order

Each operator is generic (takes DataFrames/column names); the
``*_query`` wrappers bind them to the testdata star schema so the
driver's DuckDB gate can verify semantics end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from proceso_de_etl_spark import cachereg
from proceso_de_etl_spark.functions.columns import clean_id, dsum, money
from proceso_de_etl_spark.functions.hashing import DIGEST_MOD, digest, digest_sql, md5_int, md5_int_sql
from proceso_de_etl_spark.sources.catalog import load_table
from proceso_de_etl_spark.sources.local import local_frame

ORACLES: dict[str, str] = {}


# --------------------------------------------------------------------------
# Generic operators
# --------------------------------------------------------------------------

def dedup_keep_first(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """drop_duplicates(keep='first') (reference main.py:122) with an
    EXPLICIT total order — pandas keep-first depends on file order,
    which a distributed engine must not; callers state the order."""
    w = W.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


ENUM_WINDOW_MAX = 100_000


def _enum_guard(df: DataFrame, id_col: str, bound: int = ENUM_WINDOW_MAX) -> DataFrame:
    """Plan-side cardinality guard for the single-task id-assignment
    steps (extract_dimension's coalesce(1), etl_surrogate_hwm's
    unpartitioned dense_rank): both are safe only BECAUSE their input
    is enum-sized distinct dimension values. Any assigned id above
    ``bound`` now fails the job loudly — assert_true inside a filter,
    so the check rides the existing plan (no extra action) and cannot
    be pruned — instead of silently funneling a data-sized frame
    through one task."""
    return df.filter(
        F.coalesce(
            F.assert_true(
                F.col(id_col) <= F.lit(bound),
                F.lit(
                    f"enum-window guard: {id_col} exceeded {bound} distinct "
                    "values; repartition the id assignment instead"
                ),
            ).cast("boolean"),
            F.lit(True),
        )
    )


def extract_dimension(df: DataFrame, value_col: str, id_col: str, name_col: str) -> DataFrame:
    """Distinct values → dimension with dense, stable surrogate keys
    (reference main.py:92-100 + IDENTITY columns in its DDL). A
    dense_rank over the natural order replaces the DB's autoincrement:
    deterministic, re-runnable, and computable in parallel.

    The single-partition step is safe BY CONSTRUCTION: it runs after
    ``distinct()``, so only the dimension's few distinct values pass
    through one task — never the fact rows. It is expressed as
    coalesce(1) + sortWithinPartitions + monotonically_increasing_id
    (sequential within the one sorted partition, so ids are 1..n in
    name order — STABLE across runs, unlike raw mi_id on arbitrary
    partitioning) rather than an unpartitioned rank window, which
    computes the same thing but makes WindowExec emit its
    single-partition warning on every run; the id values equal
    ``dense_rank() OVER (ORDER BY name)`` because the values are
    distinct."""
    distinct = df.select(F.col(value_col).alias(name_col)).dropna().distinct()
    return _enum_guard(
        distinct.coalesce(1)
        .sortWithinPartitions(name_col)
        .select(
            (F.monotonically_increasing_id() + 1).cast("bigint").alias(id_col),
            name_col,
        ),
        id_col,
    )


def fk_assign(fact: DataFrame, dim: DataFrame, fact_key: str, dim_name: str) -> DataFrame:
    """Business key → surrogate key (reference main.py:133,142,150):
    pandas ``.map(dict)`` becomes a broadcast join — the dimension is
    small by construction, so no shuffle of the fact side."""
    return fact.join(F.broadcast(dim), fact[fact_key] == dim[dim_name], "left")


def synthesize_placeholders(
    masters: DataFrame, required_keys: DataFrame, key: str, synth: dict[str, Column]
) -> DataFrame:
    """Referential-integrity placeholders (reference main.py:123-127):
    keys referenced by facts but absent from the master table get
    synthesized master rows, so no fact is dropped on FK violation.
    Set-difference = left-anti join; the synthesized columns are
    declarative expressions over the key."""
    missing = required_keys.select(key).distinct().join(masters, key, "left_anti")
    placeholders = missing.select(key, *[expr.alias(name) for name, expr in synth.items()])
    return masters.select(key, *synth.keys()).unionByName(placeholders)


def resolve_unique_conflicts(
    df: DataFrame, unique_col: str, replacement: Column
) -> DataFrame:
    """Unique-constraint conflict resolution (reference main.py:128-129):
    every row in a duplicated group gets a synthesized replacement
    value (the reference flags with ``duplicated(keep=False)``)."""
    w = W.partitionBy(unique_col)
    return (
        df.withColumn("__n", F.count("*").over(w))
        .withColumn(unique_col, F.when(F.col("__n") > 1, replacement).otherwise(F.col(unique_col)))
        .drop("__n")
    )


def incremental_new_rows(incoming: DataFrame, existing: DataFrame, pk: str) -> DataFrame:
    """Idempotent conditional append (reference main.py:45-59): the
    reference reads the sink's whole PK column to the driver and
    filters with isin; at scale that is a left-anti join on the PK."""
    return incoming.join(existing.select(pk), pk, "left_anti")


# --------------------------------------------------------------------------
# Oracle-checked query bindings on the testdata star schema
# --------------------------------------------------------------------------

def etl_extract_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — extract + schema conformance (main.py:78-86): raw source
    columns renamed to the warehouse's canonical names, typed casts
    applied declaratively, derived load-date column attached — the
    pandas read_csv+rename phase as a pure projection (all pushdown-
    friendly; the scan reads only the referenced columns)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("id_evento"),
        F.col("user_id").alias("id_cliente"),
        F.col("event_type").alias("tipo"),
        F.col("value").cast("double").alias("valor"),
        # ISO string, not DATE: engines disagree on whether a date
        # materializes as date or midnight-timestamp client-side
        F.date_format("ts", "yyyy-MM-dd").alias("fecha"),
        F.unix_micros("ts").alias("ts_us"),
    ).filter(F.col("valor").isNotNull())


ORACLES["etl_extract_conform"] = """
SELECT event_id AS id_evento, user_id AS id_cliente, event_type AS tipo,
       CAST(value AS DOUBLE) AS valor, strftime(ts, '%Y-%m-%d') AS fecha,
       epoch_us(ts) AS ts_us
FROM events WHERE value IS NOT NULL
"""


def etl_clean_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — limpiar_id (main.py:38-41): strip 'C' prefix, coerce to
    numeric with NULL on failure. Dirty ids are synthesized from
    customer keys ('C123', and a poison 'Cxx7' pattern for the coerce
    path) so the oracle can reproduce them."""
    cust = load_table(spark, sf_dir, "customer")
    dirty = cust.select(
        F.col("c_custkey"),
        F.when(F.col("c_custkey") % 11 == 0, F.concat(F.lit("Cxx"), F.col("c_custkey").cast("string")))
        .otherwise(F.concat(F.lit("C"), F.col("c_custkey").cast("string")))
        .alias("dirty_id"),
    )
    return dirty.select(
        "c_custkey", "dirty_id", clean_id(F.col("dirty_id"), "C").alias("clean")
    )


ORACLES["etl_clean_id"] = """
SELECT c_custkey,
       CASE WHEN c_custkey % 11 = 0 THEN 'Cxx' || CAST(c_custkey AS VARCHAR)
            ELSE 'C' || CAST(c_custkey AS VARCHAR) END AS dirty_id,
       TRY_CAST(regexp_replace(
           CASE WHEN c_custkey % 11 = 0 THEN 'Cxx' || CAST(c_custkey AS VARCHAR)
                ELSE 'C' || CAST(c_custkey AS VARCHAR) END, '^C', '') AS BIGINT) AS clean
FROM customer
"""


def etl_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — drop_duplicates keep-first (main.py:122) on lineitem by
    orderkey, first = lowest linenumber."""
    li = load_table(spark, sf_dir, "lineitem")
    # linenumber alone is not unique in this data — the order must be
    # total or "first" is nondeterministic (the pandas reference gets
    # file order for free; a parallel engine must spell it out).
    order = [F.col(c) for c in ("l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")]
    return dedup_keep_first(li, ["l_orderkey"], order).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )


ORACLES["etl_dedup_keep_first"] = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
             row_number() OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) AS rn
      FROM lineitem)
WHERE rn = 1
"""


def etl_dim_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — dimension extraction with surrogate keys (main.py:92-100)
    from part categories (the reference's Categorias table)."""
    part = load_table(spark, sf_dir, "part")
    return extract_dimension(part, "p_type", "id_categoria", "nombre")


ORACLES["etl_dim_extract"] = """
SELECT CAST(dense_rank() OVER (ORDER BY nombre) AS BIGINT) AS id_categoria, nombre
FROM (SELECT DISTINCT p_type AS nombre FROM part WHERE p_type IS NOT NULL)
"""


def etl_fk_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — FK assignment via broadcast join (main.py:133): parts get
    their category surrogate key; counts per key prove the mapping."""
    part = load_table(spark, sf_dir, "part")
    dim = extract_dimension(part, "p_type", "id_categoria", "nombre")
    mapped = fk_assign(part, dim, "p_type", "nombre")
    return mapped.groupBy("id_categoria", "nombre").agg(
        F.count("*").alias("n_products"),
        dsum("p_retailprice").alias("sum_price"),
    )


ORACLES["etl_fk_map"] = """
WITH dim AS (
  SELECT CAST(dense_rank() OVER (ORDER BY nombre) AS BIGINT) AS id_categoria, nombre
  FROM (SELECT DISTINCT p_type AS nombre FROM part WHERE p_type IS NOT NULL)
)
SELECT id_categoria, nombre, COUNT(*) AS n_products,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM part LEFT JOIN dim ON p_type = nombre
GROUP BY id_categoria, nombre
"""


def etl_placeholders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 — referential-integrity placeholders (main.py:123-127).

    Masters are customers with c_custkey % 7 <> 0 (simulating an
    incomplete master file); orders still reference all customers, so
    the %7 keys must be synthesized — Cliente_<id> / placeholder
    email, exactly the reference's scheme."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    masters = cust.filter(F.col("c_custkey") % 7 != 0).select(
        F.col("c_custkey"), F.col("c_name").alias("nombre"),
        F.concat(F.lit("real_"), F.col("c_custkey").cast("string"), F.lit("@mail.com")).alias("email"),
    )
    required = orders.select(F.col("o_custkey").alias("c_custkey"))
    key = F.col("c_custkey").cast("string")
    return synthesize_placeholders(
        masters,
        required,
        "c_custkey",
        {
            "nombre": F.concat(F.lit("Cliente_"), key),
            "email": F.concat(F.lit("cliente_"), key, F.lit("@mail.com")),
        },
    ).withColumn("is_placeholder", F.col("nombre").startswith("Cliente_"))


ORACLES["etl_placeholders"] = """
WITH masters AS (
  SELECT c_custkey, c_name AS nombre,
         'real_' || CAST(c_custkey AS VARCHAR) || '@mail.com' AS email
  FROM customer WHERE c_custkey % 7 <> 0
),
missing AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
  WHERE o_custkey NOT IN (SELECT c_custkey FROM masters)
)
SELECT c_custkey, nombre, email, nombre LIKE 'Cliente\\_%' ESCAPE '\\' AS is_placeholder FROM (
  SELECT c_custkey, nombre, email FROM masters
  UNION ALL
  SELECT c_custkey,
         'Cliente_' || CAST(c_custkey AS VARCHAR),
         'cliente_' || CAST(c_custkey AS VARCHAR) || '@mail.com'
  FROM missing
)
"""


def etl_conflict_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 — duplicate-email conflict resolution (main.py:128-129):
    synthesized emails collide on c_custkey % 40; every member of a
    duplicated group gets the placeholder address."""
    cust = load_table(spark, sf_dir, "customer")
    with_email = cust.select(
        "c_custkey",
        F.concat(F.lit("user"), (F.col("c_custkey") % 40).cast("string"), F.lit("@mail.com")).alias("email"),
    )
    return resolve_unique_conflicts(
        with_email,
        "email",
        F.concat(F.lit("cliente_"), F.col("c_custkey").cast("string"), F.lit("@placeholder.com")),
    )


ORACLES["etl_conflict_resolve"] = """
SELECT c_custkey,
       CASE WHEN COUNT(*) OVER (PARTITION BY email) > 1
            THEN 'cliente_' || CAST(c_custkey AS VARCHAR) || '@placeholder.com'
            ELSE email END AS email
FROM (SELECT c_custkey,
             'user' || CAST(c_custkey % 40 AS VARCHAR) || '@mail.com' AS email
      FROM customer)
"""


def etl_semi_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 — validity filter as a left-semi join (main.py:141's isin):
    lineitems whose order is still open."""
    li = load_table(spark, sf_dir, "lineitem")
    open_orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return li.join(open_orders, li.l_orderkey == open_orders.o_orderkey, "left_semi").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )


ORACLES["etl_semi_filter"] = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O')
"""


def etl_dropna_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 — null-rejecting load filter (main.py:143,152,160): rows
    with nulls in required FK columns are dropped before load. Nulls
    are induced via NULLIF on zero discounts so both engines see the
    same null set."""
    li = load_table(spark, sf_dir, "lineitem")
    staged = li.select(
        "l_orderkey",
        "l_linenumber",
        F.nullif(F.col("l_discount"), F.lit(0.0)).alias("discount"),
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("returnflag"),
    )
    loaded = staged.dropna(subset=["discount", "returnflag"])
    return loaded.groupBy("returnflag").agg(
        F.count("*").alias("n_rows"), dsum(F.col("discount"), 6).alias("sum_disc")
    )


ORACLES["etl_dropna_load"] = """
SELECT returnflag, COUNT(*) AS n_rows,
       CAST(SUM(CAST(discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc
FROM (SELECT NULLIF(l_discount, 0.0) AS discount,
             NULLIF(l_returnflag, 'N') AS returnflag
      FROM lineitem)
WHERE discount IS NOT NULL AND returnflag IS NOT NULL
GROUP BY returnflag
"""


def etl_incremental_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 — idempotent conditional append (main.py:45-59): orders
    before 1999 are 'already in the sink'; only the rest load."""
    orders = load_table(spark, sf_dir, "orders")
    existing = orders.filter(F.col("o_orderdate") < F.expr("TIMESTAMP '1999-01-01 00:00:00'"))
    new_rows = incremental_new_rows(orders, existing, "o_orderkey")
    return new_rows.groupBy("o_orderstatus").agg(F.count("*").alias("n_new"))


ORACLES["etl_incremental_antijoin"] = """
SELECT o_orderstatus, COUNT(*) AS n_new
FROM orders
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders
                         WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
GROUP BY o_orderstatus
"""


def etl_star_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 — the full reference pipeline (main.py:197-214) as one
    declarative plan: extract → dimension build → placeholder
    synthesis → FK assignment via broadcast joins → fact load →
    BI rollup. Facts are order lines (opinions), categories come from
    part types (Categorias), priorities play Clasificaciones, and the
    incomplete-master simulation (%7) exercises the placeholder path.

    Scale: the enum dims (categoria/clasificacion — bounded
    cardinality at any SF) carry broadcast hints; part and clientes
    grow with the data, so they are unhinted — AQE broadcasts them
    while they fit and shuffle-joins them at 100 TB. The single
    fact-fact shuffle is lineitem ⋈ orders on orderkey; the
    placeholder anti-join runs on the distinct key set, not the fact
    table.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    dim_cat = extract_dimension(part, "p_type", "id_categoria", "categoria")
    dim_pri = extract_dimension(orders, "o_orderpriority", "id_clasificacion", "clasificacion")

    masters = cust.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey", F.col("c_name").alias("nombre")
    )
    clientes = synthesize_placeholders(
        masters,
        orders.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
        {"nombre": F.concat(F.lit("Cliente_"), F.col("c_custkey").cast("string"))},
    ).withColumn("is_placeholder", F.col("nombre").startswith("Cliente_"))

    fact = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part.select("p_partkey", "p_type"), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(dim_cat), F.col("p_type") == dim_cat.categoria)
        .join(F.broadcast(dim_pri), F.col("o_orderpriority") == dim_pri.clasificacion)
        .join(clientes, orders.o_custkey == clientes.c_custkey)
    )
    return fact.groupBy("id_categoria", "categoria", "id_clasificacion", "clasificacion", "is_placeholder").agg(
        F.count("*").alias("n_opiniones"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("ingresos"),
    )


ORACLES["etl_star_flagship"] = """
WITH dim_cat AS (
  SELECT CAST(dense_rank() OVER (ORDER BY categoria) AS BIGINT) AS id_categoria, categoria
  FROM (SELECT DISTINCT p_type AS categoria FROM part WHERE p_type IS NOT NULL)
),
dim_pri AS (
  SELECT CAST(dense_rank() OVER (ORDER BY clasificacion) AS BIGINT) AS id_clasificacion, clasificacion
  FROM (SELECT DISTINCT o_orderpriority AS clasificacion FROM orders WHERE o_orderpriority IS NOT NULL)
),
masters AS (
  SELECT c_custkey, c_name AS nombre FROM customer WHERE c_custkey % 7 <> 0
),
clientes AS (
  SELECT c_custkey, nombre, nombre LIKE 'Cliente\\_%' ESCAPE '\\' AS is_placeholder FROM (
    SELECT c_custkey, nombre FROM masters
    UNION ALL
    SELECT o_custkey, 'Cliente_' || CAST(o_custkey AS VARCHAR)
    FROM (SELECT DISTINCT o_custkey FROM orders
          WHERE o_custkey NOT IN (SELECT c_custkey FROM masters))
  )
)
SELECT id_categoria, categoria, id_clasificacion, clasificacion, is_placeholder,
       COUNT(*) AS n_opiniones,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS ingresos
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
JOIN dim_cat ON p_type = categoria
JOIN dim_pri ON o_orderpriority = clasificacion
JOIN clientes ON o_custkey = c_custkey
GROUP BY id_categoria, categoria, id_clasificacion, clasificacion, is_placeholder
"""

def etl_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 — partitioned fact write + partition-pruned read: the
    reference's yearly date-range partitioning (its README §2.3) as
    ``partitionBy(year)`` parquet. The year filter on the read side
    resolves to PartitionFilters — pruned directories are never
    listed, the exact effect the reference's design was after.
    ``write_parquet`` rebalances on the year first, so each year
    directory holds files sized by its bytes (one per year at test
    scale), not one per input split.
    """

    from proceso_de_etl_spark.sources.io import write_parquet

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    target = cachereg.scratch_dir("fact_partitioned_")
    write_parquet(li, target, partition_by=["ship_year"])
    # read back with the schema just written: no inference job
    back = spark.read.schema(li.schema).parquet(target).filter(F.col("ship_year") == 1997)
    return back.groupBy(F.month("l_shipdate").cast("bigint").alias("ship_month")).agg(
        F.count("*").alias("n"), dsum("l_extendedprice").alias("sum_price")
    )


ORACLES["etl_partition_prune"] = """
SELECT CAST(month(l_shipdate) AS BIGINT) AS ship_month, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem
WHERE year(l_shipdate) = 1997
GROUP BY 1
"""


def etl_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 — dynamic partition pruning: the fact is partitioned by
    ship_year (E12's layout, the reference's README §2.3 design), but
    the year filter arrives through a JOIN to a calendar dimension —
    not as a literal on the fact. Catalyst inserts a DynamicPruning
    subquery on the partition column (reusing the dim's broadcast),
    so at runtime only the surviving years' directories are listed —
    on a 100 TB fact the difference between scanning 2 partitions and
    all of them, with zero change to the query text. Plan-asserted in
    tests/test_plans.py (PartitionFilters carries dynamicpruning).
    """

    from proceso_de_etl_spark.sources.io import write_parquet

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    target = cachereg.scratch_dir("fact_dpp_")
    write_parquet(li, target, partition_by=["ship_year"])
    fact = spark.read.schema(li.schema).parquet(target)
    # The calendar is generated in the plan rather than held as local
    # rows: a filter over a LocalRelation folds into its rows, and with
    # no Filter left on the dimension side Catalyst inserts no DPP.
    calendar = (
        spark.range(1995, 1999, numPartitions=1)
        .select(
            F.col("id").cast("int").alias("cal_year"),
            F.when(F.col("id").isin(1996, 1997), "OPEN").otherwise("CLOSED").alias("books"),
        )
        .filter(F.col("books") == "OPEN")
    )
    return (
        fact.join(F.broadcast(calendar), fact.ship_year == calendar.cal_year)
        .groupBy(F.col("cal_year").cast("bigint").alias("cal_year"))
        .agg(F.count("*").alias("n_lines"), dsum("l_extendedprice").alias("sum_price"))
        .orderBy("cal_year")
    )


ORACLES["etl_dpp_join"] = """
SELECT CAST(year(l_shipdate) AS BIGINT) AS cal_year, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem
WHERE year(l_shipdate) IN (1996, 1997)
GROUP BY 1
ORDER BY cal_year
"""


def etl_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21 — small-file compaction: the maintenance pass every
    long-lived 100 TB table needs. A fragmented dataset (here: the
    events table written 64-ways, the shape a streaming or
    per-micro-batch writer leaves behind) is rewritten into
    size-targeted files: total on-disk bytes are measured, the target
    file count is ceil(bytes / target_size), and one range
    repartition on the sort key produces exactly that many
    internally-sorted files. Content is provably lossless — this
    query returns an aggregate over the COMPACTED copy and is
    oracle-checked against the original table; the file-count drop
    itself is asserted in tests/test_io.py.
    """

    from proceso_de_etl_spark.sources.io import compact_parquet

    events = load_table(spark, sf_dir, "events")
    frag_dir = cachereg.scratch_dir("events_fragmented_")
    events.repartition(64).write.mode("overwrite").parquet(frag_dir)

    # 1 MiB target keeps the op meaningful at test SF (prod: 128-512 MiB)
    compact_dir = cachereg.scratch_dir("events_compacted_")
    compact_parquet(spark, frag_dir, compact_dir, ["ts", "user_id"], 1 << 20)
    back = spark.read.parquet(compact_dir)
    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n"), dsum("value", 6).alias("sum_value"))
        .orderBy("event_type")
    )


ORACLES["etl_compact_small_files"] = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def etl_atomic_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 — atomic multi-table load (main.py:173-195): dims + fact
    staged, promoted all-or-nothing, manifest returned. (Rows-only:
    the observable is the commit protocol, exercised end-to-end here
    and failure-tested in tests/test_io.py.)"""

    from proceso_de_etl_spark.sources.atomic import atomic_write_tables

    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    dim_cat = extract_dimension(part, "p_type", "id_categoria", "categoria")
    dim_pri = extract_dimension(orders, "o_orderpriority", "id_clasificacion", "clasificacion")
    root = cachereg.scratch_dir("atomic_load_")
    dims = {"dim_categoria": dim_cat, "dim_clasificacion": dim_pri}
    atomic_write_tables(root, dims)
    # counted with the schema each table was written with: no
    # inference job per read-back
    manifest = [
        (name, spark.read.schema(df.schema).parquet(f"{root}/{name}").count())
        for name, df in dims.items()
    ]
    return local_frame(spark, manifest, "table_name string, n_rows bigint")


# The manifest counts READ BACK from the committed directories must
# equal the distinct dimension cardinalities of the sources — a torn
# or partial promote would break the equality, so the r4-era
# "rows-only: the observable is the commit protocol" stance was too
# conservative: the protocol's end state IS value-checkable (r7).
ORACLES["etl_atomic_write"] = """
SELECT 'dim_categoria' AS table_name,
       CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_rows FROM part
UNION ALL
SELECT 'dim_clasificacion',
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM orders
"""


def etl_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 — snapshot versioning + time travel on the atomic sink:
    two retained commits of an orders fact (v1 = through 1996, v2 =
    everything), then BOTH snapshots read back — the archived one by
    its transaction id, the current one directly — and compared in
    one result. The reference's transactional load (main.py:173-195)
    plus the audit question it can't answer ("what did the table
    hold before yesterday's load?"); a versioned store answers it
    with a rename-retained directory, no log replay, no re-load.
    Storage reclaim is vacuum_table_versions (tested in
    tests/test_io.py)."""

    from proceso_de_etl_spark.sources.atomic import (
        atomic_write_tables,
        list_table_versions,
        read_table_version,
    )

    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.year("o_orderdate") <= 1996)
    root = cachereg.scratch_dir("timetravel_")
    atomic_write_tables(root, {"orders_fact": v1}, retain_history=True)
    atomic_write_tables(root, {"orders_fact": orders}, retain_history=True)
    archived_txn = next(
        t for t, kind in list_table_versions(root, "orders_fact") if kind == "archived"
    )

    def _roll(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_total")
        ).select(F.lit(label).alias("version"), "n_orders", "sum_total")

    old = _roll(read_table_version(spark, root, "orders_fact", archived_txn), "v1")
    cur = _roll(read_table_version(spark, root, "orders_fact"), "v2")
    return old.unionByName(cur).orderBy("version")


ORACLES["etl_time_travel_read"] = """
SELECT 'v1' AS version, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders WHERE year(o_orderdate) <= 1996
UNION ALL
SELECT 'v2', COUNT(*),
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
FROM orders
ORDER BY version
"""


def etl_aggregate_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 — incremental aggregate maintenance: a daily-refresh
    summary table (orders per status per month) absorbing a late
    batch. Existing summary = pre-1999 orders; delta = the rest;
    upsert = full outer merge adding counts — the pattern that keeps
    a 100 TB rollup fresh without recomputing history."""
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    existing = (
        orders.filter(F.col("o_orderdate") < F.expr("TIMESTAMP '1999-01-01 00:00:00'"))
        .groupBy(month, "o_orderstatus")
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total"))
    )
    delta = (
        orders.filter(F.col("o_orderdate") >= F.expr("TIMESTAMP '1999-01-01 00:00:00'"))
        .groupBy(month, "o_orderstatus")
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total"))
    )
    e = existing.select("month", "o_orderstatus", F.col("n").alias("en"), F.col("total").alias("et"))
    d = delta.select("month", "o_orderstatus", F.col("n").alias("dn"), F.col("total").alias("dt"))
    return (
        e.join(d, ["month", "o_orderstatus"], "full_outer")
        .select(
            "month",
            "o_orderstatus",
            (F.coalesce("en", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
            (F.coalesce("et", F.lit(0.0)) + F.coalesce("dt", F.lit(0.0))).alias("total"),
        )
    )


ORACLES["etl_aggregate_upsert"] = """
WITH existing AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderstatus,
         COUNT(*) AS en, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS et
  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
  GROUP BY 1, 2
),
delta AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderstatus,
         COUNT(*) AS dn, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS dt
  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
  GROUP BY 1, 2
)
SELECT COALESCE(existing.month, delta.month) AS month,
       COALESCE(existing.o_orderstatus, delta.o_orderstatus) AS o_orderstatus,
       CAST(COALESCE(en, 0) + COALESCE(dn, 0) AS BIGINT) AS n,
       COALESCE(et, 0.0) + COALESCE(dt, 0.0) AS total
FROM existing FULL OUTER JOIN delta
  ON existing.month = delta.month AND existing.o_orderstatus = delta.o_orderstatus
"""


def etl_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 — column profiling (the quality report a data engineer
    runs before trusting a feed): per column — null count, distinct
    count, min/max as strings. One pass computes every column's
    stats; the per-column rows are stacked scan-side."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"]
    agg = li.agg(
        F.count("*").alias("_total"),
        *[F.count(c).alias(f"nn_{c}") for c in cols],
        *[F.countDistinct(c).alias(f"nd_{c}") for c in cols],
        *[F.min(F.col(c).cast("string")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("string")).alias(f"mx_{c}") for c in cols],
    )
    stacked = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        (F.col("_total") - F.col(f"nn_{c}")).alias("n_nulls"),
                        F.col(f"nd_{c}").alias("n_distinct"),
                        F.col(f"mn_{c}").alias("min_str"),
                        F.col(f"mx_{c}").alias("max_str"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.column_name", "p.n_nulls", "p.n_distinct", "p.min_str", "p.max_str")


ORACLES["etl_profile_table"] = """
SELECT 'l_orderkey' AS column_name, COUNT(*) - COUNT(l_orderkey) AS n_nulls,
       COUNT(DISTINCT l_orderkey) AS n_distinct,
       MIN(CAST(l_orderkey AS VARCHAR)) AS min_str, MAX(CAST(l_orderkey AS VARCHAR)) AS max_str
FROM lineitem
UNION ALL
SELECT 'l_quantity', COUNT(*) - COUNT(l_quantity), COUNT(DISTINCT l_quantity),
       MIN(CAST(l_quantity AS VARCHAR)), MAX(CAST(l_quantity AS VARCHAR)) FROM lineitem
UNION ALL
SELECT 'l_extendedprice', COUNT(*) - COUNT(l_extendedprice), COUNT(DISTINCT l_extendedprice),
       MIN(CAST(l_extendedprice AS VARCHAR)), MAX(CAST(l_extendedprice AS VARCHAR)) FROM lineitem
UNION ALL
SELECT 'l_returnflag', COUNT(*) - COUNT(l_returnflag), COUNT(DISTINCT l_returnflag),
       MIN(CAST(l_returnflag AS VARCHAR)), MAX(CAST(l_returnflag AS VARCHAR)) FROM lineitem
UNION ALL
SELECT 'l_shipdate', COUNT(*) - COUNT(l_shipdate), COUNT(DISTINCT l_shipdate),
       MIN(CAST(l_shipdate AS VARCHAR)), MAX(CAST(l_shipdate AS VARCHAR)) FROM lineitem
"""


# E16b gate constant: HLL++ default rsd is 0.05 (one standard error);
# 3x that is the flag-it threshold, matching A21b's
# APPROX_DISTINCT_REL_BOUND rationale — a sketch straying past 3σ is
# broken or misconfigured, which is exactly what the audit exists to
# catch. +1 absolute headroom so tiny columns (l_returnflag, nd=3,
# where HLL is exact) never flap on integer rounding.
PROFILE_APPROX_REL_BOUND = 0.15


def etl_profile_table_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16b — the SCALE PATH for E16's column profile (r12 verdict
    item 6). E16's five exact ``countDistinct`` in one aggregate plan
    an Expand that multiplies the scan's row stream x11 (52 s at
    sf10, 7.87x/decade — the worst remaining ETL curve). This twin
    keeps the profile's exact facts (null count, min/max) but takes
    distinct cardinality from HLL sketches, and audits every sketch
    against an exact count computed WITHOUT an Expand: the A21b
    bound-audit pattern fused with the r12 bridge lesson (pre-group
    instead of Expand — SURVEY §4).

    Plan shape, deliberately: (1) ONE scan computes count/null/min/
    max plus five ``approx_count_distinct`` sketches — sketch
    aggregates are partial-mergeable, so this aggregate plans with NO
    Expand (asserted in tests/test_plans.py); at 100 TB this is the
    only full-width pass. (2) The exact audit stacks (column, value)
    pairs via explode — 5n narrow rows — and pre-groups on
    (column, value) before counting distinct per column: two-phase
    map-side-combinable aggregation whose shuffle carries only the
    DEDUPED pairs, never an 11x row stream, and whose single
    countDistinct-per-group plans Expand-free. (3) A 5-row broadcast
    join emits per column the exact profile plus
    ``distinct_within_bound`` — TRUE iff the HLL estimate sits within
    PROFILE_APPROX_REL_BOUND of the exact count — so a sketch
    regression is a driver-visible value mismatch (oracle pins TRUE).
    The HLL ESTIMATE itself never reaches the output: it is
    engine-internal, exactly as in A21/A21b.

    At 100 TB a user runs stage (1) alone for the everyday profile
    (one scan, fixed-size state) and schedules this audited key as
    the periodic trust check; E16 stays the exact oracle twin."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"]
    base = li.agg(
        F.count("*").alias("_total"),
        *[F.count(c).alias(f"nn_{c}") for c in cols],
        *[F.approx_count_distinct(c).alias(f"ad_{c}") for c in cols],
        *[F.min(F.col(c).cast("string")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("string")).alias(f"mx_{c}") for c in cols],
    )
    profile = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        (F.col("_total") - F.col(f"nn_{c}")).alias("n_nulls"),
                        F.col(f"ad_{c}").alias("approx_distinct"),
                        F.col(f"mn_{c}").alias("min_str"),
                        F.col(f"mx_{c}").alias("max_str"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.*")
    # exact-distinct audit, Expand-free: stack (column, value) and
    # pre-group; the string cast unifies types so one narrow shuffle
    # carries all five columns' deduped pairs
    stacked = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.*")
    exact_nd = (
        stacked.where(F.col("v").isNotNull())
        .groupBy("column_name", "v")
        .agg(F.lit(1).alias("_one"))
        .groupBy("column_name")
        .agg(F.count("*").cast("bigint").alias("n_distinct"))
    )
    return (
        profile.join(exact_nd, "column_name")
        .select(
            "column_name",
            "n_nulls",
            "n_distinct",
            "min_str",
            "max_str",
            (
                F.abs(F.col("approx_distinct") - F.col("n_distinct"))
                <= F.lit(PROFILE_APPROX_REL_BOUND) * F.col("n_distinct") + 1
            ).alias("distinct_within_bound"),
        )
    )


ORACLES["etl_profile_table_approx"] = """
SELECT 'l_orderkey' AS column_name, COUNT(*) - COUNT(l_orderkey) AS n_nulls,
       COUNT(DISTINCT l_orderkey) AS n_distinct,
       MIN(CAST(l_orderkey AS VARCHAR)) AS min_str, MAX(CAST(l_orderkey AS VARCHAR)) AS max_str,
       TRUE AS distinct_within_bound
FROM lineitem
UNION ALL
SELECT 'l_quantity', COUNT(*) - COUNT(l_quantity), COUNT(DISTINCT l_quantity),
       MIN(CAST(l_quantity AS VARCHAR)), MAX(CAST(l_quantity AS VARCHAR)), TRUE FROM lineitem
UNION ALL
SELECT 'l_extendedprice', COUNT(*) - COUNT(l_extendedprice), COUNT(DISTINCT l_extendedprice),
       MIN(CAST(l_extendedprice AS VARCHAR)), MAX(CAST(l_extendedprice AS VARCHAR)), TRUE FROM lineitem
UNION ALL
SELECT 'l_returnflag', COUNT(*) - COUNT(l_returnflag), COUNT(DISTINCT l_returnflag),
       MIN(CAST(l_returnflag AS VARCHAR)), MAX(CAST(l_returnflag AS VARCHAR)), TRUE FROM lineitem
UNION ALL
SELECT 'l_shipdate', COUNT(*) - COUNT(l_shipdate), COUNT(DISTINCT l_shipdate),
       MIN(CAST(l_shipdate AS VARCHAR)), MAX(CAST(l_shipdate AS VARCHAR)), TRUE FROM lineitem
"""


def etl_load_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load audit / lineage ledger — the reference's ``RegistroCargas``
    table (reference main.py:93-99: which load ran, from which
    source, how many rows) re-expressed for a file warehouse: one
    manifest row per source table of the star load, carrying row
    count, key range, and the load's as-of watermark (max source
    timestamp — deterministic, unlike wall-clock). The manifest is
    written through the atomic sink (so the ledger commits with the
    load, like the reference's same-transaction insert) and read
    back.

    Scale: each manifest row is one count/min/max aggregate — parquet
    footer statistics territory; the audit never scans more than the
    load itself already did."""

    from proceso_de_etl_spark.sources.atomic import atomic_write_tables

    specs = [
        ("customer", "c_custkey", None),
        ("lineitem", "l_orderkey", "l_shipdate"),
        ("orders", "o_orderkey", "o_orderdate"),
        ("part", "p_partkey", None),
    ]
    manifests = []
    for table, key, ts in specs:
        src = load_table(spark, sf_dir, table)
        # parquet dates read as TIMESTAMP_NTZ; session TZ is pinned
        # UTC, so the cast is a wall-clock identity (= duckdb epoch_us)
        loaded_at = (
            F.unix_micros(F.max(ts).cast("timestamp"))
            if ts
            else F.lit(None).cast("bigint")
        )
        manifests.append(
            src.agg(
                F.lit(table).alias("source_table"),
                F.count("*").alias("n_rows"),
                F.min(key).alias("key_min"),
                F.max(key).alias("key_max"),
                loaded_at.alias("loaded_at_us"),
            )
        )
    audit = manifests[0]
    for m in manifests[1:]:
        audit = audit.unionByName(m)
    root = cachereg.scratch_dir("load_audit_")
    atomic_write_tables(root, {"registro_cargas": audit})
    return spark.read.parquet(f"{root}/registro_cargas")


ORACLES["etl_load_audit"] = """
SELECT 'customer' AS source_table, COUNT(*) AS n_rows,
       MIN(c_custkey) AS key_min, MAX(c_custkey) AS key_max,
       CAST(NULL AS BIGINT) AS loaded_at_us
FROM customer
UNION ALL
SELECT 'lineitem', COUNT(*), MIN(l_orderkey), MAX(l_orderkey), epoch_us(MAX(l_shipdate))
FROM lineitem
UNION ALL
SELECT 'orders', COUNT(*), MIN(o_orderkey), MAX(o_orderkey), epoch_us(MAX(o_orderdate))
FROM orders
UNION ALL
SELECT 'part', COUNT(*), MIN(p_partkey), MAX(p_partkey), CAST(NULL AS BIGINT)
FROM part
"""


_CUTOFF = "TIMESTAMP '1999-01-01 00:00:00'"


def _change_feed(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[DataFrame]]:
    """(base snapshot, [change sets in seq order]), synthesized
    deterministically from orders: pre-1999 orders are the base; later
    orders arrive as inserts (seq 1); every 7th base key gets an update
    (seq 2), every 13th a later delete (seq 3) — keys divisible by both
    see the delete win. One frame per sequence number, so the
    streaming twin lands each as its own file."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    cutoff = F.expr(_CUTOFF)
    base = orders.filter(F.col("o_orderdate") < cutoff).drop("o_orderdate")
    inserts = orders.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.lit("I").alias("op"), F.lit(1).alias("seq"),
    )
    updates = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("U-REV").alias("o_orderstatus"),
        (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
        F.lit("U").alias("op"), F.lit(2).alias("seq"),
    )
    deletes = base.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit("D").alias("op"), F.lit(3).alias("seq"),
    )
    return base, [inserts, updates, deletes]


def cdc_snapshot(base: DataFrame) -> DataFrame:
    """Version 0 of the CDC snapshot: every base row at seq 0, live.
    Snapshot schema: (o_orderkey, o_orderstatus, o_totalprice,
    row_source, seq, deleted)."""
    return base.select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.lit("base").alias("row_source"),
        F.lit(0).alias("seq"),
        F.lit(False).alias("deleted"),
    )


def merge_cdc_batch(snapshot: DataFrame, changes: DataFrame) -> DataFrame:
    """One merge of a change batch into a snapshot: last change per key
    within the batch, then a seq-guarded full-outer upsert. A change
    wins only when its seq is above the snapshot row's, so replayed or
    out-of-order batches converge to the same state; deletes write
    tombstones (``deleted``), so a late lower-seq change cannot
    resurrect a deleted key. Readers filter tombstones out."""
    w = W.partitionBy("o_orderkey").orderBy(F.desc("seq"))
    last = (
        changes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("o_orderkey").alias("c_key"),
            F.col("o_orderstatus").alias("c_status"),
            F.col("o_totalprice").alias("c_price"),
            "op",
            F.col("seq").alias("c_seq"),
        )
    )
    merged = snapshot.join(last, snapshot.o_orderkey == last.c_key, "full_outer")
    change_wins = F.col("c_seq").isNotNull() & (
        F.col("c_seq") > F.coalesce(F.col("seq"), F.lit(-1))
    )
    return merged.select(
        F.coalesce(F.col("o_orderkey"), F.col("c_key")).alias("o_orderkey"),
        F.when(change_wins, F.col("c_status")).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        F.when(change_wins, F.col("c_price")).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(change_wins, F.col("op")).otherwise(F.col("row_source")).alias("row_source"),
        F.when(change_wins, F.col("c_seq")).otherwise(F.coalesce(F.col("seq"), F.lit(-1))).alias("seq"),
        F.when(change_wins, F.col("op") == "D")
        .otherwise(F.coalesce(F.col("deleted"), F.lit(False)))
        .alias("deleted"),
    )


def etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18 — CDC apply: merge an ordered change feed (insert/update/
    delete events with a sequence number, ``_change_feed``) into a base
    snapshot — the incremental-load pattern one step beyond the
    reference's append-only conditional load (main.py:45-59): upstream
    systems emit corrections and deletions, not just new rows.

    The whole feed is one ``merge_cdc_batch`` into the seq-0 snapshot,
    so every change wins (seq >= 1) and tombstones are filtered out:
    one window (last change per key by sequence) + one full-outer join,
    no per-event loop, no driver state — the shape that applies a day
    of CDC to a 100 TB snapshot in one pass."""
    base, (inserts, updates, deletes) = _change_feed(spark, sf_dir)
    changes = inserts.unionByName(updates).unionByName(deletes)
    return (
        merge_cdc_batch(cdc_snapshot(base), changes)
        .filter(~F.col("deleted"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "row_source")
    )


ORACLES["etl_cdc_apply"] = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
),
changes AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 'I' AS op, 1 AS seq
  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
  UNION ALL
  SELECT o_orderkey, 'U-REV', o_totalprice + 100.0, 'U', 2
  FROM base WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, NULL, NULL, 'D', 3
  FROM base WHERE o_orderkey % 13 = 0
),
last AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rk
    FROM changes) WHERE rk = 1
)
SELECT COALESCE(b.o_orderkey, l.o_orderkey) AS o_orderkey,
       COALESCE(l.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
       COALESCE(l.o_totalprice, b.o_totalprice) AS o_totalprice,
       CASE WHEN l.op IS NULL THEN 'base' ELSE l.op END AS row_source
FROM base b FULL OUTER JOIN last l ON b.o_orderkey = l.o_orderkey
WHERE COALESCE(l.op, '') <> 'D'
"""


Z_BITS = 10  # bits per dimension in the z-value (1024 buckets each)


def zorder_value(a, b, bits: int = Z_BITS):
    """Interleave the low ``bits`` of two bucket columns into a
    z-value (Morton code) — pure JVM bit arithmetic, codegen'd."""
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        bit_a = F.shiftright(a.cast("bigint"), i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b.cast("bigint"), i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(bit_a, 2 * i)).bitwiseOR(F.shiftleft(bit_b, 2 * i + 1))
    return z


def write_zordered(df: DataFrame, target: str, col_a, col_b, n_files: int = 16) -> None:
    """E19 — z-order clustered write: range-partition + sort by the
    Morton interleave of two dimensions, so parquet footer min/max
    stats become selective on BOTH columns at once. A single-column
    sort makes stats tight on that column and useless on the other;
    z-ordering bounds both, which is what lets a 2-D predicate skip
    most row groups / files of a 100 TB fact (same layout idea as
    Delta/Iceberg OPTIMIZE ZORDER, expressed with stock Spark:
    repartitionByRange + sortWithinPartitions)."""
    z = zorder_value(col_a, col_b)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(target)
    )


def etl_zorder_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order lineitem by (ship day, part bucket), read back with a
    predicate on BOTH dims, aggregate. Content parity with the raw
    table is the oracle; the layout benefit (files skippable on both
    dims) is asserted by tests/test_operators.py via parquet footer
    stats."""

    li = load_table(spark, sf_dir, "lineitem")
    # both z dimensions are MATERIALIZED columns: footer min/max stats
    # only exist for stored columns, and skipping is the whole point
    staged = li.withColumn(
        "ship_day",
        F.datediff(F.col("l_shipdate"), F.lit("1995-01-01").cast("date")).cast("bigint"),
    ).withColumn("part_bucket", F.pmod(F.col("l_partkey"), F.lit(1 << Z_BITS)))
    target = cachereg.scratch_dir("zorder_")
    write_zordered(staged, target, F.col("ship_day"), F.col("part_bucket"))
    back = spark.read.parquet(target).filter(
        (F.col("ship_day").between(400, 500)) & (F.col("part_bucket") < 64)
    )
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), dsum("l_extendedprice").alias("sum_price")
    )


ORACLES["etl_zorder_write"] = """
SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem
WHERE datediff('day', DATE '1995-01-01', l_shipdate) BETWEEN 400 AND 500
  AND l_partkey % 1024 < 64
GROUP BY l_returnflag
"""


def etl_reject_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23 — validation routing with a dead-letter accounting table:
    the reference silently DROPS rows that fail validation
    (main.py:143,152,160 dropna); production ETL routes them to a
    quarantine with a reason, so load counts reconcile. One scan, one
    CASE expression assigning the FIRST failing rule (priority
    order: null key > empty segment > deep-negative balance), one
    aggregation — the quarantine split is then a cheap
    filter-by-reason on the same tagged frame, never a second scan.
    Dirty rows are synthesized deterministically from customer keys
    (%13 null key, %17 empty segment) so the oracle reproduces them;
    per-reason key checksums make a misrouted row move a value, not
    just a count."""
    cust = load_table(spark, sf_dir, "customer")
    dirty = cust.select(
        F.when(F.col("c_custkey") % 13 == 0, F.lit(None)).otherwise(F.col("c_custkey")).alias("ck"),
        F.col("c_custkey").alias("orig_key"),
        F.when(F.col("c_custkey") % 17 == 0, F.lit("")).otherwise(F.col("c_mktsegment")).alias("seg"),
        "c_acctbal",
    )
    reason = (
        F.when(F.col("ck").isNull(), "reject_null_key")
        .when(F.col("seg") == "", "reject_empty_segment")
        .when(F.col("c_acctbal") < -900.0, "reject_deep_negative_balance")
        .otherwise("ok")
    )
    return (
        dirty.withColumn("reason", reason)
        .groupBy("reason")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("orig_key").alias("key_checksum"),
            dsum("c_acctbal").alias("balance_sum"),
        )
        .orderBy("reason")
    )


ORACLES["etl_reject_routing"] = """
WITH dirty AS (
  SELECT CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE c_custkey END AS ck,
         c_custkey AS orig_key,
         CASE WHEN c_custkey % 17 = 0 THEN '' ELSE c_mktsegment END AS seg,
         c_acctbal
  FROM customer
),
tagged AS (
  SELECT *, CASE WHEN ck IS NULL THEN 'reject_null_key'
                 WHEN seg = '' THEN 'reject_empty_segment'
                 WHEN c_acctbal < -900.0 THEN 'reject_deep_negative_balance'
                 ELSE 'ok' END AS reason
  FROM dirty
)
SELECT reason, COUNT(*) AS n_rows, CAST(SUM(orig_key) AS BIGINT) AS key_checksum,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance_sum
FROM tagged
GROUP BY reason
ORDER BY reason
"""


def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24 — snapshot diff / reconciliation: classify every key
    across two table versions as added / removed / changed /
    unchanged in ONE full-outer join on the PK, rolled up to a
    per-status accounting row (count, key checksum, exact price
    delta) — the audit that makes E22's time travel actionable
    ("what changed between v6 and v7, and does it reconcile with the
    change feed we applied?"). At 100 TB each side shuffles once on
    the PK; checksums make a misclassified row move a value, and the
    price delta rides the DECIMAL accumulator so it is
    order-independent.

    Before = the pre-1999 base snapshot; after = E18's CDC-applied
    snapshot, so the expected classification is exactly the change
    feed (added = post-cutoff inserts, removed = deletes, changed =
    updates minus delete-wins) — recomputed independently by the
    oracle."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    cutoff = F.expr("TIMESTAMP '1999-01-01 00:00:00'")
    before = orders.filter(F.col("o_orderdate") < cutoff).select(
        F.col("o_orderkey").alias("bk"),
        F.col("o_orderstatus").alias("b_status"),
        F.col("o_totalprice").alias("b_price"),
    )
    after = etl_cdc_apply(spark, sf_dir).select(
        F.col("o_orderkey").alias("ak"),
        F.col("o_orderstatus").alias("a_status"),
        F.col("o_totalprice").alias("a_price"),
    )
    j = before.join(after, before.bk == after.ak, "full_outer")
    same = F.col("b_status").eqNullSafe(F.col("a_status")) & F.col("b_price").eqNullSafe(
        F.col("a_price")
    )
    status = (
        F.when(F.col("bk").isNull(), "added")
        .when(F.col("ak").isNull(), "removed")
        .when(~same, "changed")
        .otherwise("unchanged")
    )
    delta = F.coalesce(F.col("a_price"), F.lit(0.0)) - F.coalesce(F.col("b_price"), F.lit(0.0))
    return (
        j.withColumn("status", status)
        .groupBy("status")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.coalesce(F.col("bk"), F.col("ak"))).alias("key_checksum"),
            dsum(delta).alias("price_delta"),
        )
        .orderBy("status")
    )


ORACLES["etl_snapshot_diff"] = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
),
changes AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 'I' AS op, 1 AS seq
  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
  UNION ALL
  SELECT o_orderkey, 'U-REV', o_totalprice + 100.0, 'U', 2
  FROM base WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, NULL, NULL, 'D', 3
  FROM base WHERE o_orderkey % 13 = 0
),
last AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rk
    FROM changes) WHERE rk = 1
),
after AS (
  SELECT COALESCE(b.o_orderkey, l.o_orderkey) AS ak,
         COALESCE(l.o_orderstatus, b.o_orderstatus) AS a_status,
         COALESCE(l.o_totalprice, b.o_totalprice) AS a_price
  FROM base b FULL OUTER JOIN last l ON b.o_orderkey = l.o_orderkey
  WHERE COALESCE(l.op, '') <> 'D'
),
j AS (
  SELECT b.o_orderkey AS bk, b.o_orderstatus AS b_status, b.o_totalprice AS b_price,
         a.ak, a.a_status, a.a_price
  FROM base b FULL OUTER JOIN after a ON b.o_orderkey = a.ak
),
tagged AS (
  SELECT *,
         CASE WHEN bk IS NULL THEN 'added'
              WHEN ak IS NULL THEN 'removed'
              WHEN NOT (b_status IS NOT DISTINCT FROM a_status
                        AND b_price IS NOT DISTINCT FROM a_price) THEN 'changed'
              ELSE 'unchanged' END AS status,
         COALESCE(a_price, 0.0) - COALESCE(b_price, 0.0) AS delta
  FROM j
)
SELECT status, COUNT(*) AS n_rows,
       CAST(SUM(COALESCE(bk, ak)) AS BIGINT) AS key_checksum,
       CAST(SUM(CAST(delta AS DECIMAL(18,2))) AS DOUBLE) AS price_delta
FROM tagged
GROUP BY status
ORDER BY status
"""


def etl_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E25 — dynamic partition overwrite (`replaceWhere`-style partition
    reload): the standard nightly-restatement pattern — a batch
    recomputes ONE period and replaces exactly that period's
    partition directory, leaving every other partition's files
    physically untouched. With static overwrite (Spark's default)
    the same write would TRUNCATE THE WHOLE TABLE first — the classic
    footgun this operator exists to encode; with
    ``partitionOverwriteMode=dynamic`` only partitions present in the
    batch are replaced. At 100 TB that is the difference between
    rewriting one day and rewriting the table. The mode is set per
    write (``write_parquet(dynamic=True)``), never session-wide, so a
    concurrent static write on the same session keeps its semantics.

    Here: orders partitioned by order year; a restated 1997 batch
    (prices adjusted +1000) overwrites in dynamic mode; the read-back
    yearly rollup must show 1997 restated and all other years
    byte-identical to the original load (the untouched-files claim is
    separately pinned in test_io by file listing)."""

    from proceso_de_etl_spark.sources.io import write_parquet

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    target = cachereg.scratch_dir("orders_dpo_")
    write_parquet(orders, target, partition_by=["order_year"])
    batch = (
        orders.filter(F.col("order_year") == 1997)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
    )
    write_parquet(batch, target, partition_by=["order_year"], dynamic=True)
    back = spark.read.parquet(target)
    return (
        back.groupBy(F.col("order_year").cast("bigint").alias("order_year"))
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_price"))
        .orderBy("order_year")
    )


ORACLES["etl_dynamic_partition_overwrite"] = """
WITH restated AS (
  SELECT o_orderdate,
         CASE WHEN year(o_orderdate) = 1997 THEN o_totalprice + 1000.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders
)
SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM restated
GROUP BY 1
ORDER BY order_year
"""


def _wap_audit(staged: DataFrame) -> list[str]:
    """The audit half of WAP: rule violations counted in ONE scan
    (conditional sums, not one pass per rule). Returns the violated
    rule names; empty = publishable."""
    r = staged.agg(
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("null_keys"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("nonpos_price"),
        F.count("*").alias("n"),
    ).collect()[0]
    violations = []
    if r.n == 0:
        violations.append("empty_batch")
    if (r.null_keys or 0) > 0:
        violations.append("null_order_keys")
    if (r.nonpos_price or 0) > 0:
        violations.append("non_positive_prices")
    return violations


def etl_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E26 — write-audit-publish (WAP, the Iceberg/Delta release
    pattern; the reference gets the same guarantee from its DB
    transaction + pre-load checks, main.py:173-195): every batch
    lands in an UNPUBLISHED staging version, audits run against the
    staged files, and only a clean audit promotes them atomically —
    readers can never observe unaudited data, which is the property
    a bare append loses. Composition of E13's stage-then-promote
    sink (audit reads the staging dir the promote would rename) and
    E23's validation rules.

    Demonstrated end-to-end: a clean 1997 batch audits green and
    publishes; a 1998 batch with planted NULL keys audits red and
    ROLLS BACK — the published table provably excludes it (the
    read-back rollup, value-oracled, contains 1997 but no 1998; the
    rejected batch's staging dir is gone)."""
    import os

    from proceso_de_etl_spark.sources.atomic import AtomicBatchWriter

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    root = cachereg.scratch_dir("wap_")

    base = orders.filter(F.col("order_year") <= 1996)
    w0 = AtomicBatchWriter(root)
    w0.stage(base, "orders")
    assert not _wap_audit(spark.read.parquet(w0._staging_path("orders")))
    w0.commit()

    def publish(batch: DataFrame) -> list[str]:
        published = spark.read.parquet(os.path.join(root, "orders"))
        w = AtomicBatchWriter(root)
        w.stage(published.unionByName(batch), "orders")
        # audit the EXACT staged files promotion would rename in —
        # not the logical batch — so what was audited is what readers
        # will see
        violations = _wap_audit(spark.read.parquet(w._staging_path("orders")))
        if violations:
            w.rollback()
            return violations
        w.commit()
        return []

    clean = orders.filter(F.col("order_year") == 1997)
    assert publish(clean) == []

    poisoned = orders.filter(F.col("order_year") == 1998).withColumn(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(F.col("o_orderkey")),
    )
    assert publish(poisoned) == ["null_order_keys"]

    back = spark.read.parquet(os.path.join(root, "orders"))
    return (
        back.groupBy(F.col("order_year").cast("bigint").alias("order_year"))
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_price"))
        .orderBy("order_year")
    )


ORACLES["etl_write_audit_publish"] = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
WHERE year(o_orderdate) <= 1997
GROUP BY 1
ORDER BY order_year
"""


def etl_aggregate_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E27 — incremental view maintenance WITH RETRACTIONS: E15's
    upsert only ADDS; a real CDC feed also deletes and updates, and
    the maintained rollup must absorb those without recomputing
    history — delete contributes (−1, −old), update contributes
    (0, new − old), insert (+1, +new). The old values come from ONE
    join of the change batch against the current snapshot (keyed on
    the PK — no history scan), deltas aggregate per group, and a
    full-outer merge folds them into the stale rollup; groups whose
    count reaches zero are dropped.

    Everything accumulates in DECIMAL until the final cast, so the
    incrementally-maintained rollup is BIT-IDENTICAL to a full
    recompute of the post-change table — which is exactly what the
    oracle computes. Change batch synthesized deterministically from
    the base snapshot (delete keys %10==0, update keys %10==5 with
    +500 restatements, inserts = the next year's orders)."""
    from proceso_de_etl_spark.functions.columns import money

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.expr("TIMESTAMP '1998-01-01 00:00:00'")
    base = orders.filter(F.col("o_orderdate") < cutoff)
    inserts = orders.filter(F.col("o_orderdate") >= cutoff)

    stale = base.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.sum(money(F.col("o_totalprice"), 2)).alias("t")
    )
    # change batch against base: deletes + updates carry old values
    # via one PK-keyed projection of the snapshot (no history scan)
    changes = base.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("old_price"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("D"))
        .when(F.col("o_orderkey") % 10 == 5, F.lit("U"))
        .otherwise(F.lit(None))
        .alias("op"),
    ).filter(F.col("op").isNotNull())
    delta_n = F.when(F.col("op") == "D", -1).otherwise(0)
    delta_t = F.when(F.col("op") == "D", -money(F.col("old_price"), 2)).otherwise(
        money(F.col("old_price") + 500.0, 2) - money(F.col("old_price"), 2)
    )
    deltas = changes.groupBy("o_orderstatus").agg(
        F.sum(delta_n).alias("dn"), F.sum(delta_t).alias("dt")
    )
    ins = inserts.groupBy("o_orderstatus").agg(
        F.count("*").alias("in_n"), F.sum(money(F.col("o_totalprice"), 2)).alias("in_t")
    )
    merged = (
        stale.join(deltas, "o_orderstatus", "full_outer")
        .join(ins, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (
                F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0)) + F.coalesce("in_n", F.lit(0))
            ).cast("bigint").alias("n_orders"),
            (
                F.coalesce(F.col("t"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("dt"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("in_t"), F.lit(0).cast("decimal(18,2)"))
            ).cast("double").alias("total_price"),
        )
        .filter(F.col("n_orders") > 0)
    )
    return merged


ORACLES["etl_aggregate_retract"] = """
WITH final_state AS (
  SELECT o_orderstatus,
         CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
               AND o_orderkey % 10 = 5
              THEN o_totalprice + 500.0 ELSE o_totalprice END AS price
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
     OR o_orderkey % 10 <> 0
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM final_state
GROUP BY o_orderstatus
HAVING COUNT(*) > 0
"""


def etl_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E28 — declarative data-quality expectations suite (the
    dbt-tests / Deequ check-battery shape): not-null, accepted-values,
    value-range, uniqueness, referential integrity and a minimum-
    row-count freshness gate, evaluated in bulk and emitted as one
    report row per check with its violation count. Generalizes the
    reference's ad-hoc validity rules (main.py:141 ``isin`` filters,
    main.py:70-96 cleaning) into a reusable audit surface that FAILS
    LOUDLY via ``passed = false`` rows instead of silently dropping.

    Plan shape, sized for 100 TB: all single-table checks on orders —
    not-null, accepted-values, range, and uniqueness — fold into ONE
    scan (conditional sums + count-distinct in a single aggregate,
    then an unpivot of the 1-row result); referential integrity is a
    left-anti join (broadcast when the PK side is dim-sized); nothing
    materializes violating rows (that is E23 reject routing's job).
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    viol = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")
    one = orders.agg(
        viol(F.col("o_custkey").isNull()).alias("not_null_custkey"),
        viol(~F.col("o_orderstatus").isin("O", "F", "P")).alias("accepted_status"),
        viol(
            (F.col("o_totalprice") <= 0) | (F.col("o_totalprice") > 1_000_000)
        ).alias("range_totalprice"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("unique_orderkey"),
        F.when(F.count("*") < 100, 1).otherwise(0).cast("bigint").alias("min_row_count"),
    )
    single = one.selectExpr(
        "stack(5, 'not_null_custkey', not_null_custkey,"
        " 'accepted_status', accepted_status,"
        " 'range_totalprice', range_totalprice,"
        " 'unique_orderkey', unique_orderkey,"
        " 'min_row_count', min_row_count) AS (check_name, n_violations)"
    )
    fk = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count("*").alias("n_violations"))
        .select(F.lit("fk_custkey_customer").alias("check_name"), "n_violations")
    )
    return (
        single.unionByName(fk)
        .select(
            F.lit("orders").alias("table_name"),
            "check_name",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )
        .orderBy("check_name")
    )


ORACLES["etl_expectations_report"] = """
WITH single AS (
  SELECT * FROM (
    SELECT 'not_null_custkey' AS check_name,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'accepted_status',
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'range_totalprice',
           CAST(SUM(CASE WHEN o_totalprice <= 0 OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'unique_orderkey', COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
    UNION ALL
    SELECT 'min_row_count', CASE WHEN COUNT(*) < 100 THEN 1 ELSE 0 END FROM orders
    UNION ALL
    SELECT 'fk_custkey_customer', COUNT(*) FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
  )
)
SELECT 'orders' AS table_name, check_name, n_violations,
       n_violations = 0 AS passed
FROM single
ORDER BY check_name
"""


BACKFILL_CUTOFF = "1997-10-01"
BACKFILL_STALE_CAP = 400_000.0


def etl_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E29 — partition backfill planner: diff a (simulated) stale
    monthly rollup against the source of truth and emit exactly the
    partitions that need recomputation, tagged ``missing`` (never
    built) or ``stale`` (fingerprint drift). This is the planning
    half of incremental recomputation — E15/E27 maintain a rollup
    in-place; this op decides WHICH partitions a scheduler must
    rebuild after late-arriving or corrected data, without comparing
    row-level contents.

    Scale shape: both sides reduce to per-month fingerprints (row
    count + exact DECIMAL sum — bit-stable across partitioning) in
    one aggregation each, so the diff join is over ~months rows, not
    data rows; at 100 TB the expensive halves are two scans that AQE
    partial-aggregates map-side, and the join is trivially broadcast.
    The stale twin is derived in-plan (pre-cutoff, capped totalprice)
    so the oracle can reproduce it exactly."""
    orders = load_table(spark, sf_dir, "orders")
    ym = F.date_format("o_orderdate", "yyyy-MM").alias("ym")
    fingerprint_sum = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    src = orders.groupBy(ym).agg(
        F.count("*").alias("src_n"), fingerprint_sum.alias("src_sum")
    )
    tgt = (
        orders.filter(
            (F.col("o_orderdate") < F.lit(BACKFILL_CUTOFF).cast("date"))
            & (F.col("o_totalprice") <= BACKFILL_STALE_CAP)
        )
        .groupBy(ym)
        .agg(F.count("*").alias("tgt_n"), fingerprint_sum.alias("tgt_sum"))
    )
    diff = src.join(tgt, "ym", "full_outer").select(
        "ym",
        F.when(F.col("tgt_n").isNull(), F.lit("missing"))
        .when(
            (F.col("src_n") != F.col("tgt_n"))
            | (F.col("src_sum") != F.col("tgt_sum")),
            F.lit("stale"),
        )
        .otherwise(F.lit("fresh"))
        .alias("status"),
        "src_n",
        F.coalesce("tgt_n", F.lit(0)).alias("tgt_n"),
    )
    return diff.filter(F.col("status") != "fresh").orderBy("ym")


ORACLES["etl_backfill_plan"] = f"""
WITH src AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS ym, COUNT(*) AS src_n,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS src_sum
  FROM orders GROUP BY 1
),
tgt AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS ym, COUNT(*) AS tgt_n,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tgt_sum
  FROM orders
  WHERE o_orderdate < DATE '{BACKFILL_CUTOFF}' AND o_totalprice <= {BACKFILL_STALE_CAP}
  GROUP BY 1
)
SELECT src.ym AS ym,
       CASE WHEN tgt.ym IS NULL THEN 'missing'
            WHEN src_n <> tgt_n OR src_sum <> tgt_sum THEN 'stale'
            ELSE 'fresh' END AS status,
       src_n, COALESCE(tgt_n, 0) AS tgt_n
FROM src FULL OUTER JOIN tgt ON src.ym = tgt.ym
WHERE CASE WHEN tgt.ym IS NULL THEN 'missing'
           WHEN src_n <> tgt_n OR src_sum <> tgt_sum THEN 'stale'
           ELSE 'fresh' END <> 'fresh'
ORDER BY ym
"""


ERASURE_KEY_MOD = 37  # customers c_custkey % 37 == 0 request erasure


def etl_erasure_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E30 — GDPR/right-to-be-forgotten erasure propagation: given a
    set of subjects to forget, remove their facts AND repair every
    derived aggregate WITHOUT a full rebuild. The fact-side delete is
    a left-anti join against the subject list (broadcast — the list
    is always small relative to the corpus; a deterministic key
    predicate stands in for it here so the oracle can name the same
    set); the derived monthly revenue
    rollup is repaired by RETRACTION (E27's algebra): compute only
    the deleted rows' per-month contributions (one filtered scan
    bounded by the erasure set's fan-out) and subtract them from the
    stale rollup in DECIMAL, dropping groups that reach zero. The
    oracle recomputes the rollup from scratch over retained facts —
    the maintained result must be bit-identical, which is the whole
    compliance claim: no ghost contribution of an erased subject
    survives anywhere. Extends the reference's truncate-and-reload
    compliance posture (main.py:171-195, full reload) to a 100 TB
    world where full reloads are not an option."""
    orders = load_table(spark, sf_dir, "orders")
    ym = F.date_format("o_orderdate", "yyyy-MM").alias("ym")
    money = F.col("o_totalprice").cast("decimal(18,2)")
    stale = orders.groupBy(ym).agg(
        F.count("*").alias("n_orders"), F.sum(money).alias("revenue")
    )
    erased = orders.filter(F.col("o_custkey") % ERASURE_KEY_MOD == 0)
    retract = erased.groupBy(ym).agg(
        F.count("*").alias("d_n"), F.sum(money).alias("d_rev")
    )
    return (
        stale.join(retract, "ym", "left")
        .select(
            "ym",
            (F.col("n_orders") - F.coalesce("d_n", F.lit(0))).alias("n_orders"),
            (F.col("revenue") - F.coalesce("d_rev", F.lit(0).cast("decimal(18,2)"))).alias("rev"),
        )
        .filter(F.col("n_orders") > 0)
        .select("ym", "n_orders", F.col("rev").cast("double").alias("revenue"))
        .orderBy("ym")
    )


ORACLES["etl_erasure_propagation"] = f"""
SELECT strftime(o_orderdate, '%Y-%m') AS ym, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE o_custkey % {ERASURE_KEY_MOD} <> 0
GROUP BY 1
ORDER BY 1
"""


def etl_ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E32 — star-schema-wide referential-integrity audit: every FK
    edge of the schema checked in one report (lineitem→orders/part/
    supplier, orders→customer, customer→nation, supplier→nation,
    nation→region), one row per edge with orphan count and the
    child's row count for rate context. Each check is a left-anti
    join — dimension sides broadcast, the three fact-side checks
    share one lineitem scan via a single aggregation over three
    membership flags (scan count plan-matters at 100 TB: 1 fact scan,
    not 3). This is E28's RI check promoted to the whole-schema
    audit the reference's per-table isin filters (main.py:141)
    approximate one table at a time."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    # one lineitem scan: membership via three broadcast semi-join-like
    # left joins collapsed into flags, aggregated once
    flags = (
        li.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(
            F.broadcast(orders.select(F.col("o_orderkey").alias("l_orderkey")).distinct().withColumn("_ok", F.lit(1))),
            "l_orderkey",
            "left",
        )
        .join(
            F.broadcast(part.select(F.col("p_partkey").alias("l_partkey")).distinct().withColumn("_pk", F.lit(1))),
            "l_partkey",
            "left",
        )
        .join(
            F.broadcast(supplier.select(F.col("s_suppkey").alias("l_suppkey")).distinct().withColumn("_sk", F.lit(1))),
            "l_suppkey",
            "left",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("_ok").isNull(), 1).otherwise(0)).alias("o_orph"),
            F.sum(F.when(F.col("_pk").isNull(), 1).otherwise(0)).alias("p_orph"),
            F.sum(F.when(F.col("_sk").isNull(), 1).otherwise(0)).alias("s_orph"),
        )
    )
    fact_edges = flags.selectExpr(
        "stack(3, 'lineitem->orders', o_orph, n,"
        " 'lineitem->part', p_orph, n,"
        " 'lineitem->supplier', s_orph, n) AS (fk_edge, n_orphans, n_child_rows)"
    )

    def anti(child: DataFrame, ckey: str, parent: DataFrame, pkey: str, label: str) -> DataFrame:
        orph = child.join(
            parent.select(F.col(pkey).alias(ckey)), ckey, "left_anti"
        ).agg(F.count("*").alias("n_orphans"))
        total = child.agg(F.count("*").alias("n_child_rows"))
        return orph.join(total).select(
            F.lit(label).alias("fk_edge"), "n_orphans", "n_child_rows"
        )

    out = fact_edges
    for piece in (
        anti(orders, "o_custkey", customer, "c_custkey", "orders->customer"),
        anti(customer, "c_nationkey", nation, "n_nationkey", "customer->nation"),
        anti(supplier, "s_nationkey", nation, "n_nationkey", "supplier->nation"),
        anti(nation, "n_regionkey", region, "r_regionkey", "nation->region"),
    ):
        out = out.unionByName(piece)
    return out.select(
        "fk_edge",
        F.col("n_orphans").cast("bigint").alias("n_orphans"),
        F.col("n_child_rows").cast("bigint").alias("n_child_rows"),
        (F.col("n_orphans") == 0).alias("intact"),
    ).orderBy("fk_edge")


ORACLES["etl_ri_audit"] = """
SELECT fk_edge, n_orphans, n_child_rows, n_orphans = 0 AS intact FROM (
  SELECT 'lineitem->orders' AS fk_edge,
         CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey) THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
         COUNT(*) AS n_child_rows
  FROM lineitem
  UNION ALL
  SELECT 'lineitem->part',
         CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey) THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(*)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem->supplier',
         CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey) THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(*)
  FROM lineitem
  UNION ALL
  SELECT 'orders->customer',
         (SELECT COUNT(*) FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)),
         (SELECT COUNT(*) FROM orders)
  UNION ALL
  SELECT 'customer->nation',
         (SELECT COUNT(*) FROM customer WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)),
         (SELECT COUNT(*) FROM customer)
  UNION ALL
  SELECT 'supplier->nation',
         (SELECT COUNT(*) FROM supplier WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = s_nationkey)),
         (SELECT COUNT(*) FROM supplier)
  UNION ALL
  SELECT 'nation->region',
         (SELECT COUNT(*) FROM nation WHERE NOT EXISTS (SELECT 1 FROM region WHERE r_regionkey = n_regionkey)),
         (SELECT COUNT(*) FROM nation)
)
ORDER BY fk_edge
"""


def etl_observed_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E33 — in-flight load metrics via ``Observation`` /
    ``df.observe``: the audit numbers (row count, decimal revenue
    total, null-key count, distinct-ish max key) are collected AS A
    SIDE EFFECT of the load action itself — zero extra scans, zero
    extra actions. E17's load audit re-aggregates the sink; this is
    the production-grade alternative at 100 TB, where the audit scan
    costs as much as the load: metrics ride the same pass the write
    already makes. The load here is a noop-format write (the bench
    sink), so the operator times/observes exactly one materialization
    of the filtered load frame. Generalizes the reference's post-load
    count checks (main.py:183-189) to a no-extra-pass form."""
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 1997
    )
    obs = Observation("load_metrics")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).cast("bigint").alias("n_null_custkey"),
        F.max("o_orderkey").alias("max_orderkey"),
    )
    observed.write.mode("overwrite").format("noop").save()
    m = obs.get
    return local_frame(
        spark,
        [
            (
                int(m["n_rows"]),
                float(m["revenue"]),
                int(m["n_null_custkey"]),
                int(m["max_orderkey"]),
            )
        ],
        "n_rows long, revenue double, n_null_custkey long, max_orderkey long",
    )


ORACLES["etl_observed_load"] = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_custkey,
       MAX(o_orderkey) AS max_orderkey
FROM orders
WHERE year(o_orderdate) = 1997
"""


def etl_multisource_harmonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E34 — heterogeneous multi-source harmonization: the
    reference's core shape — THREE differently-schema'd opinion
    feeds (social comments / surveys / web reviews, main.py:78-86)
    conformed to one canonical record and unioned into a single fact
    stream (main.py:117-170 does this with per-source pandas blocks).
    Here: events (per-event score on a 0-100 scale), orders (1-5
    survey scale), and lineitem⋈orders (quantity-derived 0-50 scale,
    the source that needs a join to resolve its client key). Conform
    = rename + cast + null-reject + min-max rescale to a SHARED
    [0, 1] score + origin tag; the union is by-name over the
    canonical schema, and the report aggregates per source so a
    wrong rescale or dropped feed moves a value.

    Scale shape: each source conforms scan-side (zero shuffles until
    the final per-source rollup, one keyed agg); the lineitem feed's
    client resolution is the only join. Adding a fourth source is a
    new conform block, not a schema migration — the property that
    makes the canonical-record pattern the right multi-source
    design at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    comments = ev.filter(F.col("value").isNotNull()).select(
        F.lit("comments").alias("fuente"),
        F.col("event_id").alias("natural_id"),
        F.col("user_id").alias("cliente_id"),
        F.to_date("ts").alias("fecha"),
        F.round(F.least(F.greatest(F.col("value"), F.lit(0.0)), F.lit(100.0)) / 100.0, 6).alias("puntaje"),
    )
    surveys = orders.select(
        F.lit("surveys").alias("fuente"),
        F.col("o_orderkey").alias("natural_id"),
        F.col("o_custkey").alias("cliente_id"),
        F.to_date("o_orderdate").alias("fecha"),
        F.round(((F.col("o_orderkey") % 5) + 1) / F.lit(5.0), 6).alias("puntaje"),
    )
    reviews = (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .select(
            F.lit("reviews").alias("fuente"),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("natural_id"),
            F.col("o_custkey").alias("cliente_id"),
            F.to_date("l_shipdate").alias("fecha"),
            F.round(F.least(F.col("l_quantity"), F.lit(50.0)) / 50.0, 6).alias("puntaje"),
        )
    )
    conformed = comments.unionByName(surveys).unionByName(reviews)
    return (
        conformed.groupBy("fuente")
        .agg(
            F.count("*").alias("n_opiniones"),
            F.countDistinct("cliente_id").alias("n_clientes"),
            F.round(F.avg(F.col("puntaje").cast("decimal(18,6)")).cast("double"), 6).alias("avg_puntaje"),
            F.min("fecha").cast("string").alias("desde"),
            F.max("fecha").cast("string").alias("hasta"),
        )
        .orderBy("fuente")
    )


ORACLES["etl_multisource_harmonize"] = """
WITH conformed AS (
  SELECT 'comments' AS fuente, event_id AS natural_id, user_id AS cliente_id,
         CAST(ts AS DATE) AS fecha,
         ROUND(LEAST(GREATEST(value, 0.0), 100.0) / 100.0, 6) AS puntaje
  FROM events WHERE value IS NOT NULL
  UNION ALL
  SELECT 'surveys', o_orderkey, o_custkey, CAST(o_orderdate AS DATE),
         ROUND(((o_orderkey % 5) + 1) / 5.0, 6)
  FROM orders
  UNION ALL
  SELECT 'reviews', l_orderkey * 10 + l_linenumber, o_custkey,
         CAST(l_shipdate AS DATE),
         ROUND(LEAST(l_quantity, 50.0) / 50.0, 6)
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
)
SELECT fuente, COUNT(*) AS n_opiniones,
       COUNT(DISTINCT cliente_id) AS n_clientes,
       ROUND(CAST(AVG(CAST(puntaje AS DECIMAL(18,6))) AS DOUBLE), 6) AS avg_puntaje,
       CAST(MIN(fecha) AS VARCHAR) AS desde,
       CAST(MAX(fecha) AS VARCHAR) AS hasta
FROM conformed
GROUP BY fuente
ORDER BY fuente
"""


ER_VARIANT_MOD = 50  # every 50th customer gets a dirty duplicate
ER_VARIANT_OFFSET = 10_000_000


def _er_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E35's resolution pipeline factored out for reuse (E51 builds
    the vault same-as link from the same labeling): returns
    (rid, entity) for the planted dirty roster — blocking, fuzzy
    match, connected components, entity = least member id."""
    from proceso_de_etl_spark.operators.dedup import connected_components

    cust = load_table(spark, sf_dir, "customer")
    orig = cust.select(
        F.col("c_custkey").alias("rid"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
    )
    variants = cust.filter(F.col("c_custkey") % ER_VARIANT_MOD == 0).select(
        (F.col("c_custkey") + ER_VARIANT_OFFSET).alias("rid"),
        F.concat(
            F.substring("c_name", 1, F.length("c_name") - 1), F.lit("x")
        ).alias("name"),
        F.col("c_acctbal").alias("bal"),
    )
    roster = orig.unionByName(variants).withColumn(
        "blk", F.substring("name", 1, 16)
    ).persist()
    a, b = roster.alias("a"), roster.alias("b")
    edges = (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.rid") < F.col("b.rid")))
        .filter(
            (F.levenshtein(F.col("a.name"), F.col("b.name")) <= 2)
            & (F.col("a.bal") == F.col("b.bal"))
        )
        .select(F.col("a.rid").alias("a"), F.col("b.rid").alias("b"))
    )
    clusters = connected_components(edges).select(
        F.col("doc_id").alias("rid"), F.col("cluster").alias("entity")
    )
    return roster.join(clusters, "rid", "left").select(
        "rid", F.coalesce("entity", F.col("rid")).alias("entity")
    )


def etl_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E35 — entity resolution end-to-end: a dirty roster (customers
    plus planted typo'd re-registrations — mutated name AND phone,
    new surrogate id) is resolved back to canonical entities via the
    classic three-stage pipeline: (1) BLOCKING on a name prefix
    (sorted-neighborhood family, A58 — candidate pairs only within a
    block, never all-pairs), (2) fuzzy MATCH rule combining a strong
    attribute (phone levenshtein ≤ 1) with a fuzzy one (name
    levenshtein ≤ 2) — the conjunction kills the serial-name trap
    where distinct customers' names differ by one digit, because
    their phones differ by many — and (3) connected components over
    match edges (T4b's machinery) labeling every record with its
    entity = least member id. The summary pins record/entity/merge
    counts and an id checksum, so one wrong merge moves a value.
    Scale: block sizes bound the pair join (choose the blocking key
    so blocks stay O(100) — here a 16-char prefix); CC is the
    bounded fixpoint loop. Upgrades the reference's exact-equality
    duplicate email rule (main.py:128-129) to fuzzy identity."""
    labeled = _er_labeled(spark, sf_dir)
    per_entity = labeled.groupBy("entity").agg(F.count("*").alias("sz"))
    return (
        labeled.agg(F.count("*").alias("n_records"))
        .join(per_entity.agg(
            F.count("*").alias("n_entities"),
            F.sum(F.when(F.col("sz") > 1, 1).otherwise(0)).cast("bigint").alias("n_merged_entities"),
            F.max("sz").alias("max_entity_size"),
            F.sum("entity").cast("bigint").alias("entity_id_checksum"),
        ))
        .select(
            "n_records", "n_entities", "n_merged_entities",
            "max_entity_size", "entity_id_checksum",
        )
    )


# E35's resolution CTE chain, shared verbatim by the E51 same-as-link
# oracle (the vault view of the SAME labeling)
_ER_LABELED_CTES = f"""roster AS (
  SELECT c_custkey AS rid, c_name AS name, c_acctbal AS bal FROM customer
  UNION ALL
  SELECT c_custkey + {ER_VARIANT_OFFSET},
         concat(substr(c_name, 1, len(c_name) - 1), 'x'),
         c_acctbal
  FROM customer WHERE c_custkey % {ER_VARIANT_MOD} = 0
),
blocked AS (SELECT rid, name, bal, substr(name, 1, 16) AS blk FROM roster),
edges0 AS (
  SELECT a.rid AS a, b.rid AS b
  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.rid < b.rid
  WHERE levenshtein(a.name, b.name) <= 2 AND a.bal = b.bal
),
edges AS (SELECT a AS src, b AS dst FROM edges0 UNION ALL SELECT b, a FROM edges0),
reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
  )
  SELECT * FROM r
),
clusters AS (
  SELECT src AS rid, least(src, MIN(dst)) AS entity FROM reach GROUP BY src
),
labeled AS (
  SELECT roster.rid, COALESCE(entity, roster.rid) AS entity
  FROM roster LEFT JOIN clusters ON roster.rid = clusters.rid
)"""

ORACLES["etl_entity_resolution"] = f"""
WITH {_ER_LABELED_CTES},
per_entity AS (SELECT entity, COUNT(*) AS sz FROM labeled GROUP BY entity)
SELECT (SELECT COUNT(*) FROM labeled) AS n_records,
       COUNT(*) AS n_entities,
       CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_merged_entities,
       MAX(sz) AS max_entity_size,
       CAST(SUM(entity) AS BIGINT) AS entity_id_checksum
FROM per_entity
"""


SK_INITIAL_MOD = 3  # types with p_partkey % 3 == 0 are "already loaded"


def etl_surrogate_hwm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E36 — incremental surrogate-key allocation: new dimension
    members arriving after the initial load get ids ABOVE the
    existing high-water mark, deterministically ordered, without
    renumbering a single existing row — the invariant that keeps
    every fact row's FK stable across loads (E4 assigns ids to a
    fresh dimension; this is the day-2 problem). Existing dim =
    types seen in an initial slice; the new batch's distinct values
    anti-join away known members, rank deterministically (dense rank
    over the NEW values only — enum-sized input, same bounded-window
    argument as E4), and offset by the 1-row broadcast high-water
    mark. Output proves three contracts at once: old ids unchanged,
    new ids contiguous from hwm+1, no value maps to two ids."""
    part = load_table(spark, sf_dir, "part")
    initial = (
        part.filter(F.col("p_partkey") % SK_INITIAL_MOD == 0)
        .select("p_type")
        .distinct()
    )
    from pyspark.sql import Window as W

    existing = _enum_guard(
        initial.withColumn(
            "id", F.dense_rank().over(W.orderBy("p_type")).cast("bigint")
        ),
        "id",
    )
    hwm = existing.agg(F.coalesce(F.max("id"), F.lit(0)).alias("hwm"))
    new_vals = (
        part.select("p_type").distinct().join(existing.select("p_type"), "p_type", "left_anti")
    )
    new_rows = (
        _enum_guard(
            new_vals.withColumn(
                "rk", F.dense_rank().over(W.orderBy("p_type")).cast("bigint")
            ),
            "rk",
        )
        .join(F.broadcast(hwm))
        .select("p_type", (F.col("rk") + F.col("hwm")).alias("id"))
    )
    dim = existing.select("p_type", "id", F.lit(False).alias("is_new")).unionByName(
        new_rows.select("p_type", "id", F.lit(True).alias("is_new"))
    )
    return dim.orderBy("id")


ORACLES["etl_surrogate_hwm"] = f"""
WITH initial AS (
  SELECT DISTINCT p_type FROM part WHERE p_partkey % {SK_INITIAL_MOD} = 0
),
existing AS (
  SELECT p_type, CAST(dense_rank() OVER (ORDER BY p_type) AS BIGINT) AS id FROM initial
),
hwm AS (SELECT COALESCE(MAX(id), 0) AS hwm FROM existing),
new_vals AS (
  SELECT DISTINCT p_type FROM part
  WHERE p_type NOT IN (SELECT p_type FROM existing)
),
new_rows AS (
  SELECT p_type,
         CAST(dense_rank() OVER (ORDER BY p_type) AS BIGINT) + (SELECT hwm FROM hwm) AS id
  FROM new_vals
)
SELECT p_type, id, FALSE AS is_new FROM existing
UNION ALL
SELECT p_type, id, TRUE FROM new_rows
ORDER BY id
"""


MASK_BAL_BAND = 1000.0  # generalization granularity for balances


def etl_masked_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E37 — privacy-preserving export with a k-anonymity audit: the
    outbound twin of E30's erasure — before customer data leaves the
    warehouse, direct identifiers are PSEUDONYMIZED (md5 surrogate),
    quasi-identifiers are GENERALIZED (balances banded to 1000s,
    names reduced to an initial), and the export is summarized per
    quasi-identifier group with the dataset's k-anonymity (the
    smallest group size — the re-identification risk number a
    privacy review asks for first). All masking is scan-side
    expression work; the audit is one keyed aggregation + a 1-row
    broadcast of the global minimum. Pseudonym distinctness is
    asserted in-frame (n_pids per group == n) so a hash collision or
    a lazy constant-mask bug moves a value."""
    cust = load_table(spark, sf_dir, "customer")
    masked = cust.select(
        F.md5(F.col("c_custkey").cast("string")).alias("pid"),
        F.substring("c_name", 1, 1).alias("initial"),
        (F.floor(F.col("c_acctbal") / MASK_BAL_BAND) * MASK_BAL_BAND).alias("bal_band"),
        "c_mktsegment",
    )
    groups = masked.groupBy("bal_band", "c_mktsegment").agg(
        F.count("*").alias("n"),
        F.countDistinct("pid").alias("n_pids"),
    )
    k_anon = groups.agg(F.min("n").alias("k_anonymity"))
    return (
        groups.join(F.broadcast(k_anon))
        .select("bal_band", "c_mktsegment", "n", "n_pids", "k_anonymity")
        .orderBy("bal_band", "c_mktsegment")
    )


ORACLES["etl_masked_export"] = f"""
WITH masked AS (
  SELECT md5(CAST(c_custkey AS VARCHAR)) AS pid,
         FLOOR(c_acctbal / {MASK_BAL_BAND}) * {MASK_BAL_BAND} AS bal_band,
         c_mktsegment
  FROM customer
),
groups AS (
  SELECT bal_band, c_mktsegment, COUNT(*) AS n, COUNT(DISTINCT pid) AS n_pids
  FROM masked GROUP BY 1, 2
)
SELECT bal_band, c_mktsegment, n, n_pids,
       (SELECT MIN(n) FROM groups) AS k_anonymity
FROM groups
ORDER BY bal_band, c_mktsegment
"""


def etl_merge_clause_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E38 — the full MERGE INTO clause ladder (Delta/Iceberg MERGE
    semantics) expressed as ONE co-keyed full-outer join, exercising
    every clause class in a single statement:

        WHEN MATCHED AND src.new_bal < 0   THEN DELETE
        WHEN MATCHED                       THEN UPDATE SET bal
        WHEN NOT MATCHED [BY TARGET]
                     AND src.new_bal >= 0  THEN INSERT
        WHEN NOT MATCHED BY SOURCE         THEN keep row unchanged

    This differs from E18's CDC apply (op-column driven: the SOURCE
    says I/U/D) — here the ACTION is decided by the merge conditions,
    the way lakehouse MERGE is actually written. The change batch is
    synthesized deterministically from the customer table (key%7==0
    rows get bal−5000 — some go negative and exercise DELETE;
    key%11==0 rows re-key to +1_000_000 and exercise conditional
    INSERT). Both sides shuffle once on the merge key and
    co-partition; no driver loop, no collect. The surviving table
    carries an `action` audit column so the oracle verifies every
    clause's row routing, not just the final values."""
    cust = load_table(spark, sf_dir, "customer")
    target = cust.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        money("c_acctbal").alias("bal"),
    )
    src_upd = cust.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("key"),
        (money("c_acctbal") - F.lit(5000).cast("decimal(18,2)")).alias("new_bal"),
    )
    src_ins = cust.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + 1000000).alias("key"),
        money("c_acctbal").alias("new_bal"),
    )
    src = src_upd.unionByName(src_ins)
    j = target.join(src, "key", "full_outer")
    matched = F.col("bal").isNotNull() & F.col("new_bal").isNotNull()
    merged = (
        j.withColumn(
            "action",
            F.when(matched & (F.col("new_bal") < 0), "delete")
            .when(matched, "update")
            .when(F.col("bal").isNull() & (F.col("new_bal") >= 0), "insert")
            .when(F.col("bal").isNull(), "skip")
            .otherwise("keep"),
        )
        .filter(~F.col("action").isin("delete", "skip"))
        .select(
            "key",
            F.coalesce("name", F.lit("(new)")).alias("name"),
            F.when(F.col("action") == "keep", F.col("bal"))
            .otherwise(F.col("new_bal"))
            .cast("double")
            .alias("bal"),
            "action",
        )
    )
    return merged


ORACLES["etl_merge_clause_matrix"] = """
WITH target AS (
  SELECT c_custkey AS key, c_name AS name,
         CAST(c_acctbal AS DECIMAL(18,2)) AS bal
  FROM customer
),
src AS (
  SELECT c_custkey AS key,
         CAST(c_acctbal AS DECIMAL(18,2)) - CAST(5000 AS DECIMAL(18,2)) AS new_bal
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 1000000 AS key, CAST(c_acctbal AS DECIMAL(18,2)) AS new_bal
  FROM customer WHERE c_custkey % 11 = 0
),
j AS (
  SELECT COALESCE(t.key, s.key) AS key, t.name, t.bal, s.new_bal,
         CASE WHEN t.bal IS NOT NULL AND s.new_bal IS NOT NULL AND s.new_bal < 0 THEN 'delete'
              WHEN t.bal IS NOT NULL AND s.new_bal IS NOT NULL THEN 'update'
              WHEN t.bal IS NULL AND s.new_bal >= 0 THEN 'insert'
              WHEN t.bal IS NULL THEN 'skip'
              ELSE 'keep' END AS action
  FROM target t FULL OUTER JOIN src s ON t.key = s.key
)
SELECT key, COALESCE(name, '(new)') AS name,
       CAST(CASE WHEN action = 'keep' THEN bal ELSE new_bal END AS DOUBLE) AS bal,
       action
FROM j
WHERE action NOT IN ('delete', 'skip')
"""


def etl_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E39 — Benford first-digit audit on order totals: observed vs
    expected leading-digit distribution with per-digit chi-square
    components — the classic fabricated-data screen a load-audit
    layer runs next to E28's expectations. The digit comes from the
    DECIMAL(18,2) string form (both engines render plain decimal
    digits — no double→string scientific-notation divergence); the
    Benford probability log10(1+1/d) is computed per digit in double
    (9 values; a last-ulp ln difference is absorbed by the 6dp edge
    rounding). One scan, one 9-row aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    digit = F.regexp_extract(
        money("o_totalprice").cast("string"), "([1-9])", 1
    ).cast("int")
    obs = (
        orders.filter(F.col("o_totalprice") > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count("*").alias("observed"))
    )
    # left-join onto a constant 1..9 spine: a digit that never occurs
    # must still report observed=0 with its FULL expected-count chi2
    # component — the largest deviation a fraud screen exists to
    # surface would otherwise silently produce no row at all
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    obs = spine.join(F.broadcast(obs), "digit", "left").select(
        "digit", F.coalesce(F.col("observed"), F.lit(0)).alias("observed")
    )
    tot = orders.filter(F.col("o_totalprice") > 0).agg(
        F.count("*").cast("double").alias("n")
    )
    exp_p = F.log10(1 + 1 / F.col("digit").cast("double"))
    # n=0 guard: the digit spine emits 9 rows even over an EMPTY
    # orders table (that's its point), so the per-digit ratios must
    # not divide by the zero total — NULL report columns on both
    # engines, not an ANSI divide-by-zero
    nonzero = F.col("n") > 0
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "observed",
            F.round(exp_p, 6).alias("expected_p"),
            F.round(
                F.when(nonzero, F.col("observed") / F.col("n")), 6
            ).alias("observed_p"),
            F.round(
                F.when(
                    nonzero,
                    (F.col("observed") - exp_p * F.col("n"))
                    * (F.col("observed") - exp_p * F.col("n"))
                    / (exp_p * F.col("n")),
                ),
                6,
            ).alias("chi2_component"),
        )
    )


ORACLES["etl_benford_audit"] = """
WITH raw AS (
  SELECT CAST(regexp_extract(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), '([1-9])', 1) AS INT) AS digit,
         COUNT(*) AS observed
  FROM orders WHERE o_totalprice > 0 GROUP BY 1
),
obs AS (
  SELECT CAST(s.d AS INT) AS digit, COALESCE(raw.observed, 0) AS observed
  FROM range(1, 10) s(d) LEFT JOIN raw ON raw.digit = s.d
),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM orders WHERE o_totalprice > 0)
SELECT digit, observed,
       ROUND(log10(1 + 1 / CAST(digit AS DOUBLE)), 6) AS expected_p,
       CASE WHEN n > 0 THEN ROUND(observed / n, 6) END AS observed_p,
       CASE WHEN n > 0 THEN
         ROUND((observed - log10(1 + 1 / CAST(digit AS DOUBLE)) * n)
               * (observed - log10(1 + 1 / CAST(digit AS DOUBLE)) * n)
               / (log10(1 + 1 / CAST(digit AS DOUBLE)) * n), 6) END AS chi2_component
FROM obs CROSS JOIN tot
"""


_MANIFEST_TABLES = (
    ("region", "r_regionkey", None),
    ("nation", "n_nationkey", None),
    ("customer", "c_custkey", "c_acctbal"),
    ("supplier", "s_suppkey", "s_acctbal"),
    ("part", "p_partkey", "p_retailprice"),
    ("orders", "o_orderkey", "o_totalprice"),
    ("lineitem", "l_orderkey", "l_extendedprice"),
)


def etl_lake_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E42 — lake-wide conformance manifest: one report row per
    table — row count, key range, exact-decimal measure checksum —
    the snapshot a migration/DR runbook diffs before and after any
    bulk move (E24 diffs two snapshots of ONE table; this is the
    whole-lake inventory both sides compute first). Each table
    contributes a 1-row aggregate; the union is table-count-bounded.
    At 100 TB each per-table aggregate is its own full scan — the
    honest cost of a checksum manifest — but they parallelize
    independently and each is partial-agg shaped."""
    parts = []
    for tbl, key, measure in _MANIFEST_TABLES:
        df = load_table(spark, sf_dir, tbl)
        checksum = (
            dsum(measure).alias("measure_checksum")
            if measure
            else F.lit(None).cast("double").alias("measure_checksum")
        )
        parts.append(
            df.agg(
                F.lit(tbl).alias("table_name"),
                F.count("*").alias("n_rows"),
                F.min(key).cast("bigint").alias("min_key"),
                F.max(key).cast("bigint").alias("max_key"),
                F.countDistinct(key).alias("n_keys"),
                checksum,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


ORACLES["etl_lake_manifest"] = "\nUNION ALL\n".join(
    f"""SELECT '{tbl}' AS table_name, COUNT(*) AS n_rows,
       CAST(MIN({key}) AS BIGINT) AS min_key, CAST(MAX({key}) AS BIGINT) AS max_key,
       COUNT(DISTINCT {key}) AS n_keys,
       {f"CAST(SUM(CAST({measure} AS DECIMAL(18,2))) AS DOUBLE)" if measure else "CAST(NULL AS DOUBLE)"} AS measure_checksum
FROM {tbl}"""
    for tbl, key, measure in _MANIFEST_TABLES
)


FRESHNESS_SLA_HOURS = 2


def etl_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E43 — per-feed freshness/SLA report: for every event feed
    (event_type stands in for the upstream topic), the latest
    arrival, its lag behind the freshest feed, and a stale flag
    against the SLA — the landing-zone monitor paged on before
    anyone debugs "missing data" downstream. One scan, two
    feed-count-bounded aggregates joined broadcast; lags are exact
    integer µs divided once into hours, 6dp."""
    ev = load_table(spark, sf_dir, "events")
    per_feed = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.max(F.unix_micros("ts")).alias("latest_us"),
    )
    global_max = ev.agg(F.max(F.unix_micros("ts")).alias("global_us"))
    lag_h = (F.col("global_us") - F.col("latest_us")) / 3.6e9
    return per_feed.crossJoin(F.broadcast(global_max)).select(
        "event_type",
        "n_events",
        "latest_us",
        F.round(lag_h, 6).alias("lag_hours"),
        (lag_h > FRESHNESS_SLA_HOURS).alias("stale"),
    )


ORACLES["etl_freshness_report"] = f"""
WITH per_feed AS (
  SELECT event_type, COUNT(*) AS n_events, MAX(epoch_us(ts)) AS latest_us
  FROM events GROUP BY 1
),
g AS (SELECT MAX(epoch_us(ts)) AS global_us FROM events)
SELECT event_type, n_events, latest_us,
       ROUND((global_us - latest_us) / 3.6e9, 6) AS lag_hours,
       (global_us - latest_us) / 3.6e9 > {FRESHNESS_SLA_HOURS} AS stale
FROM per_feed CROSS JOIN g
"""


GAP_DROPPED_MONTH = "1997-03-01"


def etl_calendar_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E44 — calendar-spine completeness check: a generated month
    spine (min..max observed month) anti-joined against the months a
    feed actually delivered — the "which partitions are MISSING"
    question a backfill planner (E29) asks first, answered without
    any external calendar table. The feed is the orders stream with
    one month deterministically dropped (1997-03), so the report
    must find exactly that hole plus nothing else. The spine is
    calendar-bounded (#months rows — broadcast side), the observed
    set is one grouped scan; gap classification is a left anti-join
    shape expressed as a left join + null flag so present/missing
    both appear with counts."""
    orders = load_table(spark, sf_dir, "orders")
    feed = orders.filter(
        F.date_trunc("month", F.col("o_orderdate"))
        != F.lit(GAP_DROPPED_MONTH).cast("timestamp")
    )
    observed = feed.groupBy(
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month")
    ).agg(F.count("*").alias("n_rows"))
    bounds = orders.agg(
        F.to_date(F.date_trunc("month", F.min("o_orderdate"))).alias("lo"),
        F.to_date(F.date_trunc("month", F.max("o_orderdate"))).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 month)")).alias("month")
    )
    return spine.join(observed, "month", "left").select(
        F.col("month").cast("string").alias("month"),
        F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
        F.col("n_rows").isNull().alias("missing"),
    )


ORACLES["etl_calendar_gaps"] = f"""
WITH observed AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, COUNT(*) AS n_rows
  FROM orders
  WHERE date_trunc('month', o_orderdate) <> TIMESTAMP '{GAP_DROPPED_MONTH} 00:00:00'
  GROUP BY 1
),
bounds AS (
  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
  FROM orders
),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP), INTERVAL 1 MONTH)) AS DATE) AS month
  FROM bounds
)
SELECT CAST(s.month AS VARCHAR) AS month,
       COALESCE(o.n_rows, 0) AS n_rows,
       o.n_rows IS NULL AS missing
FROM spine s LEFT JOIN observed o ON s.month = o.month
"""


_KEY_CANDIDATES = (
    ("l_orderkey",),
    ("l_orderkey", "l_linenumber"),
    ("l_partkey",),
    ("l_partkey", "l_suppkey"),
    ("l_orderkey", "l_partkey", "l_suppkey"),
)


def etl_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E45 — candidate-key discovery: for each proposed column
    combination, distinct-combination count vs row count and the
    is-key verdict — the profiling step that finds (or refutes) a
    primary key before anyone writes a MERGE against it (E38/E18
    assume a key; this MEASURES one; lineitem's real key is
    (orderkey, linenumber) and the report must prove the others
    fail). ONE scan computes every candidate: count distinct per
    combo as conditional aggregates over the same pass — at 100 TB
    the naive per-candidate scan loop is #candidates full reads;
    this is one."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n_rows")] + [
        F.countDistinct(*[F.col(c) for c in combo]).alias(f"d{i}")
        for i, combo in enumerate(_KEY_CANDIDATES)
    ]
    row = li.agg(*aggs)
    out = None
    for i, combo in enumerate(_KEY_CANDIDATES):
        part = row.select(
            F.lit("+".join(combo)).alias("candidate"),
            F.col("n_rows"),
            F.col(f"d{i}").alias("n_distinct"),
            (F.col(f"d{i}") == F.col("n_rows")).alias("is_key"),
        )
        out = part if out is None else out.unionByName(part)
    return out


ORACLES["etl_key_discovery"] = "\nUNION ALL\n".join(
    f"""SELECT '{"+".join(combo)}' AS candidate, COUNT(*) AS n_rows,
       COUNT(DISTINCT ({", ".join(combo)})) AS n_distinct,
       COUNT(DISTINCT ({", ".join(combo)})) = COUNT(*) AS is_key
FROM lineitem"""
    for combo in _KEY_CANDIDATES
)


# FK-discovery probe set: every true FK edge of the TPC-H-ish star
# plus deliberate negatives — a value-overlapping non-key pair
# (p_size vs nationkey: small-int ranges collide), a reversed edge
# (does every supplier appear in lineitem?), and a tiny-cardinality
# column fully contained by accident (l_linenumber 1..7 ⊆ p_size
# 1..50 — containment 1 at n_distinct 7, the classic false positive
# the report must EXPOSE via its distinct count rather than hide).
# Single source of truth for operator + oracle.
_FK_PROBES = (
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("part", "p_size", "nation", "n_nationkey"),
    ("supplier", "s_suppkey", "lineitem", "l_suppkey"),
    ("lineitem", "l_linenumber", "part", "p_size"),
)

FK_SCALE = 10**6


def etl_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E48 — inclusion-dependency (foreign-key) discovery (r8): for
    each probe pair, how much of the child column's DISTINCT value
    set is contained in the parent column — the cross-table sibling
    of E45's candidate-key discovery, and the profiling step that
    finds (or refutes) join edges before anyone writes the join.
    containment = (contained·SCALE) div n_child_distinct (exact
    integers; nonnegative ⇒ truncate==floor cross-engine); is_fk =
    full containment. The probe set plants the three classic false
    positives — accidental small-int range overlap (p_size vs
    nationkey), a reversed edge (supplier→lineitem), and a
    tiny-cardinality column fully contained by accident
    (l_linenumber, containment 1 at n_distinct ≤ 7) — so the report
    demonstrates WHY the verdict must be read next to the distinct
    count, not alone.

    Scale: per pair one DISTINCT on the child column + a LEFT SEMI
    join against the parent's distinct values (both shuffles keyed
    on the probed column, no row-level data movement beyond the
    value sets); pairs are independent subplans unioned — at 100 TB
    run them as one job and let the scheduler overlap the scans."""
    out = None
    for ct, cc, pt, pc in _FK_PROBES:
        child = load_table(spark, sf_dir, ct).select(F.col(cc).alias("k")).filter(
            F.col("k").isNotNull()
        )
        parent = (
            load_table(spark, sf_dir, pt).select(F.col(pc).alias("pk")).distinct()
        )
        cd = child.distinct()
        contained = cd.join(parent, cd.k == parent.pk, "left_semi")
        row = (
            child.agg(F.count("*").cast("bigint").alias("n_child_rows"))
            .join(cd.agg(F.count("*").cast("bigint").alias("n_child_distinct")))
            .join(contained.agg(F.count("*").cast("bigint").alias("n_contained")))
            .select(
                F.lit(ct).alias("child_table"),
                F.lit(cc).alias("child_col"),
                F.lit(pt).alias("parent_table"),
                F.lit(pc).alias("parent_col"),
                "n_child_rows",
                "n_child_distinct",
                "n_contained",
                F.expr(
                    f"(n_contained * CAST({FK_SCALE} AS BIGINT)) div n_child_distinct"
                ).alias("containment_scaled"),
                (F.col("n_contained") == F.col("n_child_distinct")).alias("is_fk"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


ORACLES["etl_fk_discovery"] = "\nUNION ALL\n".join(
    f"""SELECT * , (n_contained * {FK_SCALE}) // n_child_distinct AS containment_scaled,
       n_contained = n_child_distinct AS is_fk
FROM (
  SELECT '{ct}' AS child_table, '{cc}' AS child_col,
         '{pt}' AS parent_table, '{pc}' AS parent_col,
         (SELECT CAST(COUNT({cc}) AS BIGINT) FROM {ct}) AS n_child_rows,
         (SELECT CAST(COUNT(DISTINCT {cc}) AS BIGINT) FROM {ct}) AS n_child_distinct,
         (SELECT CAST(COUNT(DISTINCT c.{cc}) AS BIGINT) FROM {ct} c
          WHERE c.{cc} IN (SELECT {pc} FROM {pt})) AS n_contained
)"""
    for ct, cc, pt, pc in _FK_PROBES
)


# ---- Data Vault layer (E49-E56, ST28): each decision written once
# per engine — the hash keys, the as-of resolution and the per-table
# report — and every vault key composed from them.

DV_DIGEST_SHIFT = 20  # digest terms are hk div 2^20 (40-bit each)

# Vault hash keys: per vault object, its key prefix and the columns
# hashed after it, joined with '|' (md5_int, 15 hex digits = 60 bits).
# Hubs hash their business key, links the business keys they relate,
# satellites their attribute hashdiff (no prefix). The business-key
# columns are the source's; a caller passes another expression for a
# column by name (``o_custkey=...``). Hashdiffs cover only
# string/integer attributes — a float's or timestamp's string form is
# engine-specific, so ST28's price rides as integer cents.
DV_KEYS = {
    "hub_customer": ("c", ("c_custkey",)),
    "hub_order": ("o", ("o_orderkey",)),
    "link_order_customer": ("oc", ("o_orderkey", "o_custkey")),
    "sat_customer": ("", ("c_name", "c_nationkey", "c_mktsegment")),
    "sat_order": ("", ("o_orderstatus", "o_orderpriority")),
    "sat_order_price": ("", ("o_orderstatus", "cents")),
    "hub_party": ("p", ("rid",)),
    "sal_party": ("sal", ("rid", "entity")),
    "bridge_path": ("br", ("custkey", "o_orderkey", "l_partkey", "l_linenumber")),
}


def dv_hk(obj: str, **cols: Column) -> Column:
    """The 60-bit hash key of vault object ``obj`` (``DV_KEYS``)."""
    prefix, names = DV_KEYS[obj]
    parts = [F.lit(prefix)] if prefix else []
    for i, n in enumerate(names):
        parts += ([F.lit("|")] if i else []) + [cols.get(n, F.col(n))]
    return md5_int(F.concat(*parts), 15)


def dv_hk_sql(obj: str, **cols: str) -> str:
    """DuckDB twin of ``dv_hk``."""
    prefix, names = DV_KEYS[obj]
    body = " || '|' || ".join(cols.get(n, n) for n in names)
    return md5_int_sql(f"'{prefix}' || {body}" if prefix else body, 15)


def dv_digest(col: str) -> Column:
    """Order-free vault digest Σ(hk div 2^DV_DIGEST_SHIFT) of a 60-bit
    hash column: the overflow-safe ``digest`` of 40-bit terms."""
    return digest(f"{col} div {1 << DV_DIGEST_SHIFT}")


def dv_digest_sql(col: str) -> str:
    return digest_sql(f"{col} // {1 << DV_DIGEST_SHIFT}")


def dv_as_of(
    events: DataFrame, snapshots: tuple[str, ...], date: str, keys: list[str],
    picks: tuple[tuple[str, str], ...],
) -> DataFrame:
    """As-of resolution: per (snapshot, *keys), the event row with the
    greatest ``date`` ≤ snapshot. The snapshot spine is a BROADCAST
    literal frame (a handful of reporting dates); one aggregate keyed
    on (snapshot, key) resolves it — max_by in-aggregate, no window.
    ``picks`` are (output, column) pairs; picking ``date`` itself is
    its max."""
    spine = local_frame(
        events.sparkSession, [(s,) for s in snapshots], "snapshot_date string"
    ).select(F.col("snapshot_date").cast("date"))
    return (
        events.join(F.broadcast(spine), F.col(date) <= F.col("snapshot_date"))
        .groupBy("snapshot_date", *keys)
        .agg(*[
            (F.max(date) if c == date else F.max_by(c, date)).alias(out)
            for out, c in picks
        ])
    )


def dv_as_of_sql(
    events: str, snapshots: tuple[str, ...], date: str, keys: list[str],
    picks: tuple[tuple[str, str], ...],
) -> str:
    """DuckDB twin of ``dv_as_of`` over the CTE ``events``."""
    spine = ", ".join(f"(DATE '{s}')" for s in snapshots)
    cols = [f"e.{k}" for k in keys] + [
        (f"MAX(e.{date})" if c == date else f"arg_max(e.{c}, e.{date})") + f" AS {out}"
        for out, c in picks
    ]
    return f"""SELECT s.snapshot_date, {", ".join(cols)}
  FROM {events} e JOIN (VALUES {spine}) s(snapshot_date) ON e.{date} <= s.snapshot_date
  GROUP BY {", ".join(str(i + 1) for i in range(len(keys) + 1))}"""


def dv_report(df: DataFrame, name: str) -> DataFrame:
    """Per-vault-table report of a frame of hash keys ``hk``: row
    count, distinct hash-key count (the hash-collision audit: must
    equal the business-key count) and the order-free digest."""
    return df.agg(
        F.lit(name).alias("vault_table"),
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("hk").cast("bigint").alias("n_distinct_hk"),
        dv_digest("hk").alias("hk_digest"),
    )


def dv_report_sql(name: str, src: str) -> str:
    return f"""SELECT '{name}' AS vault_table, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT hk) AS BIGINT) AS n_distinct_hk,
       {dv_digest_sql("hk")} AS hk_digest
FROM ({src})"""


def etl_data_vault_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E49 — Data Vault modeling (r8): hubs, links, and satellites
    built from the star source — the OTHER warehouse paradigm next
    to E11's star schema and E14's SCD2, and the one whose whole
    point is hash keys: hub rows are (hash-key, business key), links
    relate hub hash-keys, satellites carry attribute HASHDIFFs so
    change detection is a hash compare, not a column-by-column diff.
    All hashes are the portable md5-60-bit family (identical in
    DuckDB by construction), and hashdiffs cover only string/integer
    attributes — doubles and timestamps are EXCLUDED by design
    because their to-string formatting is engine-specific (the exact
    trap the dsum/exact-decimal discipline exists for, here avoided
    at the modeling layer: vault practice pins a canonical textual
    encoding per column, which for this corpus is the identity on
    ints/strings). The report is one row per vault table: row count,
    distinct hash-key count (hash-collision audit: must equal the
    business-key count), and an order-free integer digest
    Σ (hk div 2^{DV_DIGEST_SHIFT}) that value-pins every hash
    without shipping them.

    Scale: each vault table is one scan + one aggregate; hubs/links
    dedup on the hash (shuffle keyed by hk — the uniform key a
    surrogate hash exists to provide; NO skew by construction)."""
    src = {t: load_table(spark, sf_dir, t) for t in ("customer", "orders")}
    out = None
    for name, table, is_key in _DV_BUILD:
        df = src[table].select(dv_hk(name).alias("hk"))
        row = dv_report(df.distinct() if is_key else df, name)
        out = row if out is None else out.unionByName(row)
    return out


# E49's vault tables: (object, source table, dedup on hk) — hubs and
# links hold one row per key, satellites one row per source row
_DV_BUILD = (
    ("hub_customer", "customer", True),
    ("hub_order", "orders", True),
    ("link_order_customer", "orders", True),
    ("sat_customer", "customer", False),
    ("sat_order", "orders", False),
)


DV_PIT_SNAPSHOTS = ("2024-03-01", "2024-09-01")  # one before, one after the planted change
DV_PIT_LOAD_1 = "2024-01-01"  # initial satellite load
DV_PIT_LOAD_2 = "2024-06-01"  # mid-interval change batch (every 5th customer moves segment)


def etl_data_vault_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E50 — Data Vault point-in-time (PIT) table build (r9): the
    query the vault paradigm exists to serve. E49 built
    hubs/links/satellites; a PIT table resolves, per hub key and
    snapshot date, WHICH satellite version was in effect — the vault's
    answer to E40's SCD2 point-in-time join, on hash keys instead of
    validity intervals: effective version = the satellite row with
    the greatest load_date ≤ snapshot (satellites are insert-only, so
    no interval bookkeeping exists to join on).

    The satellite chain plants a mid-interval change (the E14 plant:
    every 5th customer's segment moves at 2024-06-01); the first
    snapshot (2024-03-01) predates it, the second (2024-09-01)
    postdates it, so the report PROVES the routing: snapshot 1
    resolves every key to the 2024-01-01 version, snapshot 2 routes
    exactly the changed keys to 2024-06-01. Output is one row per
    (snapshot, resolved version): key count plus order-free integer
    digests of the resolved hub keys and hashdiffs — the same
    Σ(h div 2^DV_DIGEST_SHIFT) value-pinning as E49, so the full PIT
    content is verified without shipping per-key rows.

    Scale: satellites join a BROADCAST snapshot spine (PIT tables are
    built for a handful of reporting dates), then one aggregate keyed
    on (snapshot, hk) — the uniform surrogate-hash key, no skew by
    construction; max_by picks the version in-aggregate, no window.
    Reference parity: the reference's star schema keeps only current
    rows (main.py:61-74 idempotent appends); PIT is how the vault
    form answers as-of questions the reference cannot."""
    cust = load_table(spark, sf_dir, "customer")
    hk = dv_hk("hub_customer").alias("hk")
    hd = dv_hk("sat_customer").alias("hd")
    sat1 = cust.select(hk, hd, F.lit(DV_PIT_LOAD_1).cast("date").alias("load_date"))
    sat2 = (
        cust.filter(F.col("c_custkey") % 5 == 0)
        .withColumn("c_mktsegment", F.lit("MOVED"))
        .select(hk, hd, F.lit(DV_PIT_LOAD_2).cast("date").alias("load_date"))
    )
    pit = dv_as_of(sat1.unionByName(sat2), DV_PIT_SNAPSHOTS, "load_date", ["hk"], _DV_PIT_PICKS)
    return (
        pit.groupBy("snapshot_date", "version_load_date")
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            dv_digest("hk").alias("hk_digest"),
            dv_digest("hd").alias("hd_digest"),
        )
        # ISO strings, not DATE: the gate's pandas canonicalization
        # widens DuckDB dates to midnight timestamps
        .select(
            F.col("snapshot_date").cast("string").alias("snapshot_date"),
            F.col("version_load_date").cast("string").alias("version_load_date"),
            "n_keys",
            "hk_digest",
            "hd_digest",
        )
        .orderBy("snapshot_date", "version_load_date")
    )


_DV_PIT_PICKS = (("version_load_date", "load_date"), ("hd", "hd"))
ORACLES["etl_data_vault_pit"] = f"""
WITH sat AS (
  SELECT {dv_hk_sql("hub_customer")} AS hk,
         {dv_hk_sql("sat_customer")} AS hd,
         DATE '{DV_PIT_LOAD_1}' AS load_date
  FROM customer
  UNION ALL
  SELECT {dv_hk_sql("hub_customer")} AS hk,
         {dv_hk_sql("sat_customer", c_mktsegment="'MOVED'")} AS hd,
         DATE '{DV_PIT_LOAD_2}' AS load_date
  FROM customer WHERE c_custkey % 5 = 0
),
pit AS (
  {dv_as_of_sql("sat", DV_PIT_SNAPSHOTS, "load_date", ["hk"], _DV_PIT_PICKS)}
)
SELECT CAST(snapshot_date AS VARCHAR) AS snapshot_date,
       CAST(version_load_date AS VARCHAR) AS version_load_date,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       {dv_digest_sql("hk")} AS hk_digest,
       {dv_digest_sql("hd")} AS hd_digest
FROM pit
GROUP BY snapshot_date, version_load_date
ORDER BY 1, 2
"""


DV_EFF_MOD = 7  # orders with o_orderkey % 7 == 0 are reassigned at wave 2
DV_EFF_D1 = "2024-01-01"  # initial link load
DV_EFF_D2 = "2024-06-01"  # driving-key change wave (reassignments)
DV_EFF_SNAPSHOTS = ("2024-03-01", "2024-09-01")  # one per side of the change


def etl_data_vault_effectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E52 — effectivity satellite: link VALIDITY over time, the
    vault's answer to a driving-key change (an order reassigned to a
    different customer). Links, like hubs, are insert-only — the
    reassignment does not delete the old order→customer link; an
    effectivity satellite records open/close EVENTS against link hash
    keys, and "which links are in effect as of date X" is the same
    greatest-event ≤ snapshot resolution as E50's PIT, on event rows
    instead of attribute versions. Completes the vault quartet:
    E49 build, E50 PIT, E51 same-as link, E52 effectivity.

    Plant: wave 1 (2024-01-01) opens every order→customer link; wave
    2 (2024-06-01) closes the link of every DV_EFF_MOD-th order and
    opens a link to custkey+1. The first snapshot predates wave 2 —
    every original link open, nothing closed; the second postdates it
    — reassigned old links CLOSED, their replacements open. Output =
    one row per (snapshot, status): link count + the order-free
    Σ(hk div 2^DV_DIGEST_SHIFT) digest, so the exact membership of
    each status set is value-pinned.

    Scale: one scan builds the event rows (≤ 1 + 2/MOD per order), a
    BROADCAST snapshot spine joins events at load_date ≤ snapshot,
    and one aggregate keyed on (snapshot, link hk) resolves the
    latest event — uniform hash keys, no skew; max_by in-aggregate,
    no window (the E50 discipline)."""
    orders = load_table(spark, sf_dir, "orders")
    open1 = orders.select(
        dv_hk("link_order_customer").alias("hk"),
        F.lit(DV_EFF_D1).cast("date").alias("event_date"),
        F.lit(True).alias("is_open"),
    )
    moved = orders.filter(F.col("o_orderkey") % DV_EFF_MOD == 0)
    close2 = moved.select(
        dv_hk("link_order_customer").alias("hk"),
        F.lit(DV_EFF_D2).cast("date").alias("event_date"),
        F.lit(False).alias("is_open"),
    )
    open2 = moved.select(
        dv_hk("link_order_customer", o_custkey=F.col("o_custkey") + 1).alias("hk"),
        F.lit(DV_EFF_D2).cast("date").alias("event_date"),
        F.lit(True).alias("is_open"),
    )
    events = open1.unionByName(close2).unionByName(open2)
    state = dv_as_of(events, DV_EFF_SNAPSHOTS, "event_date", ["hk"], (("is_open", "is_open"),))
    return (
        state.groupBy("snapshot_date", "is_open")
        .agg(
            F.count("*").cast("bigint").alias("n_links"),
            dv_digest("hk").alias("hk_digest"),
        )
        .select(
            F.col("snapshot_date").cast("string").alias("snapshot_date"),
            "is_open",
            "n_links",
            "hk_digest",
        )
        .orderBy("snapshot_date", "is_open")
    )


ORACLES["etl_data_vault_effectivity"] = f"""
WITH events AS (
  SELECT {dv_hk_sql("link_order_customer")} AS hk,
         DATE '{DV_EFF_D1}' AS event_date, TRUE AS is_open
  FROM orders
  UNION ALL
  SELECT {dv_hk_sql("link_order_customer")},
         DATE '{DV_EFF_D2}', FALSE
  FROM orders WHERE o_orderkey % {DV_EFF_MOD} = 0
  UNION ALL
  SELECT {dv_hk_sql("link_order_customer", o_custkey="(o_custkey + 1)")},
         DATE '{DV_EFF_D2}', TRUE
  FROM orders WHERE o_orderkey % {DV_EFF_MOD} = 0
),
state AS (
  {dv_as_of_sql("events", DV_EFF_SNAPSHOTS, "event_date", ["hk"], (("is_open", "is_open"),))}
)
SELECT CAST(snapshot_date AS VARCHAR) AS snapshot_date, is_open,
       CAST(COUNT(*) AS BIGINT) AS n_links,
       {dv_digest_sql("hk")} AS hk_digest
FROM state
GROUP BY snapshot_date, is_open
ORDER BY 1, 2
"""


def etl_data_vault_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E53 — Data Vault bridge table (r10): the consumption-side
    close of the vault family. E49-E52 built hubs, links, satellites,
    PIT, SAL, and effectivity; what a BI user actually queries is a
    BRIDGE — the hub→link→hub path chain pre-flattened to one row per
    path (here customer→order→part via link_order_customer and the
    order's lineitems) so a report does ONE join to the bridge
    instead of walking the raw vault. Because links are insert-only,
    a bridge is only meaningful AS OF a snapshot: the driving-key
    resolution is E50's PIT rule applied to E52's reassignment plant
    — per (snapshot, order), the customer in effect = the open event
    with the greatest event_date ≤ snapshot (wave 1 opens every
    order→customer link; wave 2 re-points every DV_EFF_MOD-th order
    to custkey+1).

    Report = one row per (snapshot, is_reassigned): path count
    (paths are DISTINCT on the natural key — the source plants
    duplicate lineitem rows for the dedup family, and a bridge row
    is a path, not a fact row), the distinct-hash collision audit
    (n_rows must equal n_distinct_hk), the order-free path-key digest
    Σ(hk div 2^DV_DIGEST_SHIFT), and the customer-hub digest of the
    path anchors. The split pins the PIT composition sharply: the
    reassigned group has IDENTICAL path counts at both snapshots but
    a different customer digest — exactly the custkey→custkey+1
    re-anchoring, nothing else (hashlib replay + those invariants
    pinned in test).

    Scale: event build = one orders scan (1 + 1/MOD rows per order);
    snapshot spine BROADCAST; effectivity resolution = one aggregate
    keyed on (snapshot, orderkey) — uniform keys, max_by
    in-aggregate, no window; the bridge expansion is an equi-join on
    orderkey, lineitem's natural clustering key, so at 100 TB it
    co-partitions with the fact instead of shuffling it; the report
    is one partial-agged aggregate. A materialized bridge would be
    written partitioned by snapshot_date (E12's discipline)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    open1 = orders.select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        F.lit(DV_EFF_D1).cast("date").alias("event_date"),
    )
    open2 = (
        orders.filter(F.col("o_orderkey") % DV_EFF_MOD == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") + 1).alias("custkey"),
            F.lit(DV_EFF_D2).cast("date").alias("event_date"),
        )
    )
    events = open1.unionByName(open2)
    eff = (
        dv_as_of(events, DV_EFF_SNAPSHOTS, "event_date", ["o_orderkey"], _DV_BRIDGE_PICKS)
        # hk_customer is a function of the EFF row (snapshot, order ->
        # customer), so hash it here at |snapshots|x|orders| rows and
        # let the lineitem join carry the 8-byte result — hashing it
        # in the post-join projection would md5 every PATH row (10x
        # more at lineitem fan-out; half the report stage's hash work
        # in the r12 sf10 stage profile)
        .withColumn("hk_customer", dv_hk("hub_customer", c_custkey=F.col("custkey")))
    )
    # a bridge row is a PATH, not a fact row: the source carries
    # planted duplicate lineitem rows (the dedup-family fixtures), so
    # dedup on the NATURAL path key BEFORE hashing — that keeps
    # n_rows == n_distinct_hk a true hash-collision audit instead of
    # a duplicate-row artifact. The dedup runs on lineitem's natural
    # key BEFORE the snapshot join, not on the joined result: custkey
    # is functionally determined by (snapshot, o_orderkey) through
    # eff (one arg_max row per key), so distinct-after-join ≡
    # distinct-before-join — but before, the shuffle carries 1× the
    # lineitem rows at 3 narrow columns instead of |snapshots|× rows
    # at 5 (the r11 third-decade finding: the post-join DISTINCT over
    # 2× lineitem-scale wide rows was the super-linear spill at sf10).
    paths = eff.join(
        lineitem.select(
            F.col("l_orderkey").alias("o_orderkey"), "l_partkey", "l_linenumber"
        ).distinct(),
        "o_orderkey",
    ).select(
        "snapshot_date", "custkey", "o_orderkey", "l_partkey", "l_linenumber",
        "hk_customer",
    )
    bridge = paths.select(
        "snapshot_date",
        (F.col("o_orderkey") % DV_EFF_MOD == 0).alias("is_reassigned"),
        dv_hk("bridge_path").alias("hk"),
        "hk_customer",
    )
    # report agg in TWO stages instead of count(*)+countDistinct(hk)
    # in one: a single-distinct agg plans as an Expand that streams
    # every path row TWICE (360M projected rows at the sf10 tier)
    # through the first hash aggregate. Pre-grouping on (report key,
    # hk) streams each row once, keeps the same single 180M-row
    # shuffle (map-side partial intact), and composes the digests
    # exactly: hk is (audited-)unique per group so count(*) of the
    # pre-group = distinct hks, and the row-sum digests distribute
    # over the per-hk partials (Σ_rows f(hk) = Σ_hk c·f(hk); the
    # DECIMAL(38,0) partials keep the same ~1e26-row overflow margin,
    # Mersenne reduction applied once at the end as before).
    # Measured at sf10: 92.2 s vs 101.4 s median, and the spread
    # tightens (79-95 vs 74-129) — the Expand was also the GC noise.
    pre = bridge.groupBy("snapshot_date", "is_reassigned", "hk").agg(
        F.count("*").alias("c"),
        F.sum(
            F.expr(f"CAST(hk_customer div {1 << DV_DIGEST_SHIFT} AS DECIMAL(38,0))")
        ).alias("cust_part"),
    )
    return (
        pre.groupBy("snapshot_date", "is_reassigned")
        .agg(
            F.sum("c").cast("bigint").alias("n_paths"),
            F.count("*").cast("bigint").alias("n_distinct_hk"),
            F.expr(
                f"CAST(SUM(CAST(c AS DECIMAL(38,0))"
                f" * CAST(hk div {1 << DV_DIGEST_SHIFT} AS DECIMAL(38,0)))"
                f" % {DIGEST_MOD} AS BIGINT)"
            ).alias("path_digest"),
            F.expr(f"CAST(SUM(cust_part) % {DIGEST_MOD} AS BIGINT)").alias(
                "customer_digest"
            ),
        )
        .select(
            F.col("snapshot_date").cast("string").alias("snapshot_date"),
            "is_reassigned",
            "n_paths",
            "n_distinct_hk",
            "path_digest",
            "customer_digest",
        )
        .orderBy("snapshot_date", "is_reassigned")
    )


_DV_BRIDGE_PICKS = (("custkey", "custkey"),)
ORACLES["etl_data_vault_bridge"] = f"""
WITH events AS (
  SELECT o_orderkey, o_custkey AS custkey, DATE '{DV_EFF_D1}' AS event_date
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey + 1, DATE '{DV_EFF_D2}'
  FROM orders WHERE o_orderkey % {DV_EFF_MOD} = 0
),
eff AS (
  {dv_as_of_sql("events", DV_EFF_SNAPSHOTS, "event_date", ["o_orderkey"], _DV_BRIDGE_PICKS)}
),
paths AS (
  SELECT DISTINCT eff.snapshot_date, eff.custkey, eff.o_orderkey,
         l_partkey, l_linenumber
  FROM eff JOIN lineitem ON l_orderkey = eff.o_orderkey
),
bridge AS (
  SELECT snapshot_date,
         (o_orderkey % {DV_EFF_MOD} = 0) AS is_reassigned,
         {dv_hk_sql("bridge_path")} AS hk,
         {dv_hk_sql("hub_customer", c_custkey="custkey")} AS hk_customer
  FROM paths
)
SELECT CAST(snapshot_date AS VARCHAR) AS snapshot_date, is_reassigned,
       CAST(COUNT(*) AS BIGINT) AS n_paths,
       CAST(COUNT(DISTINCT hk) AS BIGINT) AS n_distinct_hk,
       {dv_digest_sql("hk")} AS path_digest,
       {dv_digest_sql("hk_customer")} AS customer_digest
FROM bridge
GROUP BY snapshot_date, is_reassigned
ORDER BY 1, 2
"""


def etl_data_vault_same_as_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E51 — same-as link (SAL): entity resolution absorbed into the
    Data Vault. The vault never updates a hub — when E35's fuzzy
    pipeline decides two party records are the same real-world
    entity, the finding is recorded as a LINK from each record's hub
    key to its entity master's hub key (master = least member id,
    E35's convention), leaving every source record auditable and the
    merge reversible. Composition: _er_labeled (blocking → fuzzy
    match → CC) feeds the hash-key layer of E49.

    Report = E49's per-vault-table shape: hub_party (one row per
    source record), sal_party (every record → its master, self-links
    included — the idempotent full-population form), and
    sal_nontrivial (merges only — the rows an auditor reads). Counts,
    distinct-hash audit, and the order-free Σ(hk div 2^DV_DIGEST_
    SHIFT) digest value-pin every link without shipping them.

    Scale: resolution is E35's bounded-block pair join + CC fixpoint;
    the vault layer adds one projection and three aggregates keyed on
    the uniform surrogate hash — no skew by construction."""
    labeled = _er_labeled(spark, sf_dir)
    hub = labeled.select(dv_hk("hub_party").alias("hk"))
    sal = labeled.select(
        dv_hk("sal_party").alias("hk"),
        (F.col("rid") != F.col("entity")).alias("nontrivial"),
    )
    return (
        dv_report(hub, "hub_party")
        .unionByName(dv_report(sal, "sal_party"))
        .unionByName(dv_report(sal.filter("nontrivial"), "sal_nontrivial"))
        .orderBy("vault_table")
    )


ORACLES["etl_data_vault_same_as_link"] = f"""
WITH {_ER_LABELED_CTES},
hub AS (SELECT {dv_hk_sql("hub_party")} AS hk FROM labeled),
sal AS (
  SELECT {dv_hk_sql("sal_party")} AS hk,
         rid <> entity AS nontrivial
  FROM labeled
)
{dv_report_sql("hub_party", "SELECT hk FROM hub")}
UNION ALL
{dv_report_sql("sal_party", "SELECT hk FROM sal")}
UNION ALL
{dv_report_sql("sal_nontrivial", "SELECT hk FROM sal WHERE nontrivial")}
ORDER BY vault_table
"""


ORACLES["etl_data_vault_build"] = "\nUNION ALL\n".join(
    dv_report_sql(
        name, f"SELECT {'DISTINCT ' if is_key else ''}{dv_hk_sql(name)} AS hk FROM {table}"
    )
    for name, table, is_key in _DV_BUILD
)


DV_MART_MOD = 5  # every 5th customer gets a second satellite version
DV_MART_D1 = "2024-01-01"  # initial satellite load
DV_MART_D2 = "2024-06-01"  # segment-change wave ('MOVED')


def etl_data_vault_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E54 — information mart built FROM the vault (r11): the
    consumption pattern that justifies the paradigm. E49 showed the
    vault can be BUILT; this shows it can be QUERIED BACK OUT
    losslessly — the mart reconstructed through hubs, a versioned
    satellite, and the link answers the same question as a direct
    query on the source, value-for-value. That round-trip property
    IS the oracle: the DuckDB side never sees a vault structure, it
    computes the report straight from customer ⋈ orders, so any
    hash collision, wrong current-version pick, or dropped link row
    breaks the match.

    Vault layer (payload-bearing, unlike E49's audit projection):
    hub_customer (hk_c, business key), sat_customer with TWO versions
    — v1 = the source attributes at D1, v2 (every DV_MART_MOD-th
    customer) re-segments to 'MOVED' at D2 — hub_order, link_oc, and
    sat_order carrying status + the exact-decimal price. Mart layer:
    dim_customer = hub ⋈ CURRENT satellite version (one max_by per
    hk — satellites are insert-only, so "current" is an aggregate,
    never an update); fact_orders = link ⋈ sat_order ⋈ dim. Report =
    per (effective segment, order status): order count, distinct
    customers, exact-decimal revenue (dsum's DECIMAL accumulation —
    the A105 rule — cast back to double for the gate).

    Scale: every join is an equi-join on the uniform md5-60
    surrogate hash (no skew by construction, co-partitionable);
    current-version resolution is ONE keyed aggregate, not a window
    over history; the report is one partial-agged group-by. On a
    cluster the dims broadcast and the fact never shuffles twice.
    Parity: the reference materializes its mart by re-joining staged
    tables per run (main.py:98-126); this is that mart derived from
    an auditable raw vault instead of a staging area."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    hk_c = dv_hk("hub_customer")
    sat_c_v1 = customer.select(
        hk_c.alias("hk_c"),
        F.lit(DV_MART_D1).cast("date").alias("load_date"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    sat_c_v2 = customer.filter(F.col("c_custkey") % DV_MART_MOD == 0).select(
        hk_c.alias("hk_c"),
        F.lit(DV_MART_D2).cast("date").alias("load_date"),
        F.lit("MOVED").alias("mktsegment"),
    )
    sat_c = sat_c_v1.unionByName(sat_c_v2)
    # current version = max_by(load_date) per hub key: satellites are
    # insert-only, so "current" is one aggregate, never an update.
    # The hub carries the BUSINESS key into the dim (standard DV:
    # business keys live on hubs, payload on satellites) so the
    # report's n_customers counts distinct c_custkey exactly like the
    # oracle — the r11 advisor's finding was that counting on the
    # 60-bit md5 surrogate lets a hash collision silently shift a
    # reported value instead of failing the family's collision audit.
    hub_customer = customer.select(hk_c.alias("hk_c"), "c_custkey")
    dim_customer = hub_customer.join(
        sat_c.groupBy("hk_c").agg(
            F.max_by("mktsegment", "load_date").alias("mktsegment")
        ),
        "hk_c",
    )
    link_oc = orders.select(
        dv_hk("hub_order").alias("hk_o"),
        dv_hk("hub_customer", c_custkey=F.col("o_custkey")).alias("hk_c"),
    )
    sat_order = orders.select(
        dv_hk("hub_order").alias("hk_o"),
        F.col("o_orderstatus").alias("orderstatus"),
        money("o_totalprice").alias("price"),
    )
    fact = link_oc.join(sat_order, "hk_o").join(dim_customer, "hk_c")
    return (
        fact.groupBy("mktsegment", "orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.countDistinct("c_custkey").cast("bigint").alias("n_customers"),
            F.sum("price").cast("double").alias("revenue"),
        )
        .orderBy("mktsegment", "orderstatus")
    )


ORACLES["etl_data_vault_mart"] = f"""
SELECT CASE WHEN c_custkey % {DV_MART_MOD} = 0 THEN 'MOVED' ELSE c_mktsegment END
         AS mktsegment,
       o_orderstatus AS orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


def etl_data_vault_mart_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E55 — incremental mart maintenance over the vault (r11):
    E54 rebuilds the mart from scratch; this REFRESHES a
    materialized mart when a new satellite wave lands, touching only
    the delta — E27's retraction discipline composed over E54's
    structures, which is how a vault mart actually stays current at
    100 TB (a full rebuild per satellite wave re-aggregates the
    whole fact; the refresh re-aggregates only the CHANGED hub keys'
    fact rows).

    State 0 = the mart materialized under satellite v1 (original
    segments). Delta input = the v2 wave alone (every DV_MART_MOD-th
    customer re-segments to 'MOVED'): its hub keys select the
    affected fact rows ONCE via the link, and each affected row
    emits a RETRACTION (−1, −price) against its old group and an
    INSERTION (+1, +price) into its new group. The refresh is one
    outer-merge of the netted deltas into the base report; order
    counts and exact-decimal revenue are additive under retraction
    (distinct-customer counts are NOT — the refreshed mart reports
    the additive measures, the standard IVM restriction E27 also
    documents).

    Output per refreshed (mktsegment, orderstatus): the maintained
    n_orders / revenue — which must equal E54's full rebuild — PLUS
    the net delta each group absorbed (positive for 'MOVED', negative
    for donor groups, absent groups drop at n_orders = 0). The oracle
    computes state 1 and state 0 DIRECTLY from the source and diffs
    them, so a wrong retraction sign, a missed affected row, or a
    double-applied delta all break the match.

    Scale: the delta path scans only the moved customers' orders
    (equi-join on the uniform hash key, delta-proportional — the
    whole point of IVM); the base report is the already-materialized
    aggregate (here rebuilt in-query for the self-contained gate
    shape, one partial-agged group-by). DECIMAL accumulation
    throughout (A105); doubles only at the gate boundary."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    hk_c = dv_hk("hub_customer")
    # state-0 dimension: satellite v1 only
    dim_v1 = customer.select(
        hk_c.alias("hk_c"), F.col("c_mktsegment").alias("mktsegment")
    )
    link_fact = orders.select(
        dv_hk("hub_customer", c_custkey=F.col("o_custkey")).alias("hk_c"),
        F.col("o_orderstatus").alias("orderstatus"),
        money("o_totalprice").alias("price"),
    )
    base = (
        link_fact.join(dim_v1, "hk_c")
        .groupBy("mktsegment", "orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("price").alias("revenue"),
        )
    )
    # the v2 wave IS the delta input: affected hub keys + old segment
    delta_dim = customer.filter(F.col("c_custkey") % DV_MART_MOD == 0).select(
        hk_c.alias("hk_c"),
        F.col("c_mktsegment").alias("old_seg"),
        F.lit("MOVED").alias("new_seg"),
    )
    affected = link_fact.join(delta_dim, "hk_c")
    retract = affected.select(
        F.col("old_seg").alias("mktsegment"), "orderstatus",
        F.lit(-1).cast("bigint").alias("dn"),
        (-F.col("price")).alias("dp"),
    )
    insert = affected.select(
        F.col("new_seg").alias("mktsegment"), "orderstatus",
        F.lit(1).cast("bigint").alias("dn"),
        F.col("price").alias("dp"),
    )
    net = (
        retract.unionByName(insert)
        .groupBy("mktsegment", "orderstatus")
        .agg(F.sum("dn").alias("delta_orders"), F.sum("dp").alias("delta_revenue"))
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        base.join(net, ["mktsegment", "orderstatus"], "full_outer")
        .select(
            "mktsegment",
            "orderstatus",
            (F.coalesce("n_orders", F.lit(0)) + F.coalesce("delta_orders", F.lit(0)))
            .cast("bigint")
            .alias("n_orders"),
            (F.coalesce(F.col("revenue"), zero) + F.coalesce(F.col("delta_revenue"), zero))
            .cast("double")
            .alias("revenue"),
            F.coalesce("delta_orders", F.lit(0)).cast("bigint").alias("delta_orders"),
            F.coalesce(F.col("delta_revenue"), zero).cast("double").alias("delta_revenue"),
        )
        .filter(F.col("n_orders") > 0)
        .orderBy("mktsegment", "orderstatus")
    )


ORACLES["etl_data_vault_mart_refresh"] = f"""
WITH eff AS (
  SELECT c_custkey,
         c_mktsegment AS seg0,
         CASE WHEN c_custkey % {DV_MART_MOD} = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg1
  FROM customer
),
j AS (
  SELECT e.seg0, e.seg1, o_orderstatus AS orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders JOIN eff e ON o_custkey = e.c_custkey
),
s1 AS (
  SELECT seg1 AS mktsegment, orderstatus, COUNT(*) AS n, SUM(p) AS rev
  FROM j GROUP BY 1, 2
),
s0 AS (
  SELECT seg0 AS mktsegment, orderstatus, COUNT(*) AS n, SUM(p) AS rev
  FROM j GROUP BY 1, 2
)
SELECT s1.mktsegment, s1.orderstatus,
       CAST(s1.n AS BIGINT) AS n_orders,
       CAST(s1.rev AS DOUBLE) AS revenue,
       CAST(s1.n - COALESCE(s0.n, 0) AS BIGINT) AS delta_orders,
       CAST(s1.rev - COALESCE(s0.rev, 0) AS DOUBLE) AS delta_revenue
FROM s1 LEFT JOIN s0 ON s1.mktsegment = s0.mktsegment AND s1.orderstatus = s0.orderstatus
ORDER BY 1, 2
"""


DV_DEL_MOD = 5  # orders with o_orderkey % 5 == 0 are source-deleted at wave 2
DV_DEL_REMOD = 3  # of those, every 3rd (orderkey % 15 == 0) re-inserts at wave 3
DV_DEL_D1 = "2024-01-01"  # initial load: everything alive
DV_DEL_D2 = "2024-06-01"  # source hard-delete wave → tombstones
DV_DEL_D3 = "2024-10-01"  # re-insert wave → resurrections
DV_DEL_SNAPSHOTS = ("2024-03-01", "2024-08-01", "2024-12-01")


def etl_data_vault_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E56 — deletion handling in the Data Vault (r12): the close of
    the vault family (E49 build → E50 PIT → E51 SAL → E52
    effectivity → E53 bridge → E54/E55 marts → ST28 streaming
    ingest). A source-system HARD delete never deletes a vault row —
    hubs/links/satellites are insert-only history — it lands as a
    TOMBSTONE event in a record-tracking (status) satellite, and
    "is this key deleted as of date X?" is the same
    greatest-event ≤ snapshot resolution as E52's effectivity. Three
    properties distinguish deletes from a plain effectivity close,
    and the plant exercises all three:

    1. TOMBSTONE, not removal — wave 2 (D2) hard-deletes every
       DV_DEL_MOD-th order in the source; the vault records
       deleted=true events, total key count per table never drops.
    2. PROPAGATION — an order's delete tombstones its dependent
       order→customer LINK too (a dangling link would resurrect the
       order through any bridge); events are emitted per vault table.
    3. RESURRECTION — wave 3 (D3) re-inserts every
       (DV_DEL_MOD·DV_DEL_REMOD)-th order (the key reappears in the
       source feed); a later alive event reopens it, which is WHY
       the tombstone must be an event with a date, not a flag on the
       hub (a flag update would destroy the D2–D3 deleted period).

    Snapshots straddle the waves: S1 < D2 (all alive), D2 < S2 < D3
    (every 5th deleted in both tables), S3 > D3 (every 15th back
    alive). Report = per (snapshot, vault_table, is_deleted): key
    count + the order-free Σ(hk div 2^DV_DIGEST_SHIFT) digest, so
    the exact membership of each status set — not just its size — is
    value-pinned against the batch oracle.

    Scale (the E52 discipline end-to-end): one orders scan builds
    ≤ 2·(1 + 2/MOD) event rows per order; the snapshot spine is a
    BROADCAST 3-row frame; status resolution is ONE aggregate keyed
    on (snapshot, vault_table, hk) — uniform md5-60 keys, no skew,
    max_by in-aggregate, no window; the report is one partial-agged
    group-by. Parity: the reference reloads tables wholesale and
    loses deleted rows entirely (main.py:45-59); this keeps them
    queryable history."""
    orders = load_table(spark, sf_dir, "orders")

    def both_tables(src: DataFrame, date: str, deleted: bool) -> DataFrame:
        hub, link = (
            src.select(
                F.lit(name).alias("vault_table"),
                dv_hk(name).alias("hk"),
                F.lit(date).cast("date").alias("event_date"),
                F.lit(deleted).alias("deleted"),
            )
            for name in _DV_DEL_TABLES
        )
        return hub.unionByName(link)

    gone = orders.filter(F.col("o_orderkey") % DV_DEL_MOD == 0)
    back = orders.filter(F.col("o_orderkey") % (DV_DEL_MOD * DV_DEL_REMOD) == 0)
    events = (
        both_tables(orders, DV_DEL_D1, False)
        .unionByName(both_tables(gone, DV_DEL_D2, True))
        .unionByName(both_tables(back, DV_DEL_D3, False))
    )
    state = dv_as_of(
        events, DV_DEL_SNAPSHOTS, "event_date", ["vault_table", "hk"], _DV_DEL_PICKS
    )
    return (
        state.groupBy("snapshot_date", "vault_table", "is_deleted")
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            dv_digest("hk").alias("hk_digest"),
        )
        .select(
            F.col("snapshot_date").cast("string").alias("snapshot_date"),
            "vault_table",
            "is_deleted",
            "n_keys",
            "hk_digest",
        )
        .orderBy("snapshot_date", "vault_table", "is_deleted")
    )


_DV_DEL_TABLES = ("hub_order", "link_order_customer")
_DV_DEL_PICKS = (("is_deleted", "deleted"),)
_DV_DEL_HUB_HK = dv_hk_sql("hub_order")
_DV_DEL_LINK_HK = dv_hk_sql("link_order_customer")
ORACLES["etl_data_vault_deletes"] = f"""
WITH events AS (
  SELECT 'hub_order' AS vault_table, {_DV_DEL_HUB_HK} AS hk,
         DATE '{DV_DEL_D1}' AS event_date, FALSE AS deleted
  FROM orders
  UNION ALL
  SELECT 'link_order_customer', {_DV_DEL_LINK_HK}, DATE '{DV_DEL_D1}', FALSE
  FROM orders
  UNION ALL
  SELECT 'hub_order', {_DV_DEL_HUB_HK}, DATE '{DV_DEL_D2}', TRUE
  FROM orders WHERE o_orderkey % {DV_DEL_MOD} = 0
  UNION ALL
  SELECT 'link_order_customer', {_DV_DEL_LINK_HK}, DATE '{DV_DEL_D2}', TRUE
  FROM orders WHERE o_orderkey % {DV_DEL_MOD} = 0
  UNION ALL
  SELECT 'hub_order', {_DV_DEL_HUB_HK}, DATE '{DV_DEL_D3}', FALSE
  FROM orders WHERE o_orderkey % {DV_DEL_MOD * DV_DEL_REMOD} = 0
  UNION ALL
  SELECT 'link_order_customer', {_DV_DEL_LINK_HK}, DATE '{DV_DEL_D3}', FALSE
  FROM orders WHERE o_orderkey % {DV_DEL_MOD * DV_DEL_REMOD} = 0
),
state AS (
  {dv_as_of_sql("events", DV_DEL_SNAPSHOTS, "event_date", ["vault_table", "hk"], _DV_DEL_PICKS)}
)
SELECT CAST(snapshot_date AS VARCHAR) AS snapshot_date, vault_table, is_deleted,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       {dv_digest_sql("hk")} AS hk_digest
FROM state
GROUP BY snapshot_date, vault_table, is_deleted
ORDER BY 1, 2, 3
"""


QUERIES = {
    "etl_data_vault_build": etl_data_vault_build,
    "etl_data_vault_deletes": etl_data_vault_deletes,
    "etl_data_vault_bridge": etl_data_vault_bridge,
    "etl_data_vault_mart": etl_data_vault_mart,
    "etl_data_vault_mart_refresh": etl_data_vault_mart_refresh,
    "etl_data_vault_pit": etl_data_vault_pit,
    "etl_data_vault_same_as_link": etl_data_vault_same_as_link,
    "etl_data_vault_effectivity": etl_data_vault_effectivity,
    "etl_fk_discovery": etl_fk_discovery,
    "etl_key_discovery": etl_key_discovery,
    "etl_calendar_gaps": etl_calendar_gaps,
    "etl_freshness_report": etl_freshness_report,
    "etl_lake_manifest": etl_lake_manifest,
    "etl_benford_audit": etl_benford_audit,
    "etl_merge_clause_matrix": etl_merge_clause_matrix,
    "etl_extract_conform": etl_extract_conform,
    "etl_dynamic_partition_overwrite": etl_dynamic_partition_overwrite,
    "etl_write_audit_publish": etl_write_audit_publish,
    "etl_aggregate_retract": etl_aggregate_retract,
    "etl_reject_routing": etl_reject_routing,
    "etl_snapshot_diff": etl_snapshot_diff,
    "etl_clean_id": etl_clean_id,
    "etl_dedup_keep_first": etl_dedup_keep_first,
    "etl_dim_extract": etl_dim_extract,
    "etl_fk_map": etl_fk_map,
    "etl_placeholders": etl_placeholders,
    "etl_conflict_resolve": etl_conflict_resolve,
    "etl_semi_filter": etl_semi_filter,
    "etl_dropna_load": etl_dropna_load,
    "etl_incremental_antijoin": etl_incremental_antijoin,
    "etl_star_flagship": etl_star_flagship,
    "etl_partition_prune": etl_partition_prune,
    "etl_atomic_write": etl_atomic_write,
    "etl_aggregate_upsert": etl_aggregate_upsert,
    "etl_profile_table": etl_profile_table,
    "etl_profile_table_approx": etl_profile_table_approx,
    "etl_load_audit": etl_load_audit,
    "etl_cdc_apply": etl_cdc_apply,
    "etl_zorder_write": etl_zorder_write,
    "etl_dpp_join": etl_dpp_join,
    "etl_compact_small_files": etl_compact_small_files,
    "etl_time_travel_read": etl_time_travel_read,
    "etl_expectations_report": etl_expectations_report,
    "etl_backfill_plan": etl_backfill_plan,
    "etl_erasure_propagation": etl_erasure_propagation,
    "etl_ri_audit": etl_ri_audit,
    "etl_observed_load": etl_observed_load,
    "etl_multisource_harmonize": etl_multisource_harmonize,
    "etl_entity_resolution": etl_entity_resolution,
    "etl_surrogate_hwm": etl_surrogate_hwm,
    "etl_masked_export": etl_masked_export,
}
