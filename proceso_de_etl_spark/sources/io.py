"""Batch sources & sinks (SURVEY.md §2.4 S1-S4).

The reference ingests CSV (reference main.py:78-86, pandas read_csv)
and loads SQL Server. Here every format goes through explicit
schemas — schema inference is a full extra pass over the data, which
at 100 TB is not a default anyone wants; malformed handling is a
declared policy, not an accident.

Partitioned writes are sized by data: ``write_parquet`` rebalances
rows on the partition columns, so each partition directory holds
about (its bytes ÷ ``spark.sql.adaptive.advisoryPartitionSizeInBytes``)
files, at least one — not one file per writing task per value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from proceso_de_etl_spark import cachereg


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    mode: str = "PERMISSIVE",
    corrupt_column: str | None = None,
) -> DataFrame:
    """CSV with explicit schema. ``mode``:
    - PERMISSIVE: malformed rows → nulls (optionally captured whole
      in ``corrupt_column``) — the reference's errors='coerce' policy;
    - DROPMALFORMED: silently drop;
    - FAILFAST: abort the job (strict ingestion gates).
    """
    reader = (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", mode)
    )
    if corrupt_column:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_column)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    dynamic: bool = False,
) -> None:
    """Columnar sink; with ``partition_by`` the layout implements the
    reference's fact-table partitioning design (its README §2.3 —
    yearly date-range partitions) so date-filtered reads prune whole
    directories instead of scanning.

    Layout rule: files per partition directory ≈ its bytes ÷
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, at least one.
    A plain partitioned write emits one file per writing task into
    every directory that task touches (input splits × partition
    values files at 100 TB). So the rows are first rebalanced on the
    partition columns — a hash shuffle that AQE plans as
    ``RebalancePartitions`` — which merges small shuffle partitions
    and splits any above the advisory size. ``repartition(col)``
    would instead funnel each value through a single task (one file
    for a whole 100 TB year), and ``coalesce`` keeps every task
    writing into every directory.

    ``dynamic=True`` overwrites only the partitions present in ``df``
    (per-write ``partitionOverwriteMode=dynamic``; the session conf
    is left alone) — the period-restatement write of E25.

    Streaming ``foreachBatch`` epoch writes do not come through here:
    AQE is off inside micro-batches, where the rebalance would become
    a fixed ``spark.sql.shuffle.partitions``-way hash shuffle per epoch.
    """
    if partition_by:
        df = df.hint("rebalance", *[F.col(c) for c in partition_by])
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.parquet(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def read_parquet_evolving(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: union the schemas of parquet files
    written months apart (columns get ADDED over a dataset's life;
    old files simply lack them). ``mergeSchema`` reconciles by NAME —
    missing columns read as NULL, no rewrite of old data. Spark skips
    the footer-merge pass by default because at 100 TB it means
    reading every file's footer up front; turning it on per-read
    (here) instead of session-wide keeps that cost opt-in."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    sort_cols: list[str],
    target_file_bytes: int = 128 << 20,
) -> tuple[int, int]:
    """Small-file compaction (SURVEY.md §2.1 E21): rewrite a
    fragmented parquet dataset into ceil(total_bytes /
    target_file_bytes) internally-sorted files via one range
    repartition. Streaming sinks and per-micro-batch writers leave
    thousands of KB-sized files behind; at 100 TB the resulting
    footer/listing overhead dominates scan time, and compaction is
    the standing maintenance pass that fixes it. Returns
    (files_before, files_after)."""
    import math
    import os

    def _nfiles(d: str) -> int:
        return sum(1 for e in os.scandir(d) if e.name.endswith(".parquet"))

    total_bytes = sum(
        e.stat().st_size for e in os.scandir(src_dir) if e.name.endswith(".parquet")
    )
    target_files = max(1, math.ceil(total_bytes / target_file_bytes))
    (
        spark.read.parquet(src_dir)
        .repartitionByRange(target_files, *sort_cols)
        .write.mode("overwrite")
        .parquet(dst_dir)
    )
    return _nfiles(src_dir), _nfiles(dst_dir)


def avro_available(spark: SparkSession) -> bool:
    try:
        spark.read.format("avro").load("/nonexistent")
        return True
    except Exception as ex:
        return "Failed to find data source: avro" not in str(ex)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro source — the external spark-avro module is not in this
    image (only avro core jars); gated with the remedy."""
    if not avro_available(spark):
        raise RuntimeError(
            "spark-avro module missing; add org.apache.spark:spark-avro via "
            "spark.jars.packages to read avro."
        )
    return spark.read.format("avro").load(path)


def write_csv(df: DataFrame, path: str, header: bool = True, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


ORACLES: dict[str, str] = {}

BINFILE_N_DOCS = 200  # files staged for the binaryFile demo


def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 — the built-in ``binaryFile`` source: whole-file ingestion
    into (path, modificationTime, length, content) rows — how raw
    media (images/audio/pdfs) lands in a multimodal table before the
    mapInPandas feature extractors (operators/multimodal.py) take
    over. Reading parallelizes by file across executors; content
    never passes through a Python row object. Here the first
    BINFILE_N_DOCS documents are staged as one .txt file each (test
    scaffolding standing in for an upstream media drop), read back
    via binaryFile, and verified by content digest — the oracle
    recomputes md5/length from the documents table directly, so a
    corrupted or truncated file read moves a value."""
    import os

    from proceso_de_etl_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < BINFILE_N_DOCS
    )
    stage = cachereg.scratch_dir("binfiles_")
    for r in docs.select("doc_id", "text").collect():
        with open(os.path.join(stage, f"{r.doc_id:08d}.txt"), "wb") as f:
            f.write(r.text.encode("utf-8"))
    files = spark.read.format("binaryFile").load(stage)
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1).cast("bigint").alias("doc_id"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


ORACLES["source_binary_files"] = f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id < {BINFILE_N_DOCS}
"""


def source_federated_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 — federated multi-format union: ONE logical table whose
    partitions live in three different formats (parquet, CSV, JSON —
    the real shape of a lake that grew over years), read with
    explicit per-format schemas and unioned by name into a single
    frame. The oracle aggregates the ORIGINAL table directly, so the
    comparison proves the federation is LOSSLESS end-to-end —
    including the type round-trips that actually bite (dates through
    CSV text, doubles through JSON). Slices are keyed o_orderkey % 3
    so every format carries a third of the data; explicit schemas
    everywhere (inference is a full extra pass nobody wants at
    100 TB). Scale note: in production each format is a real
    directory and this union is how a migration reads the table
    DURING a format conversion — no downtime cutover."""
    import os

    from proceso_de_etl_spark.sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    stage = cachereg.scratch_dir("federated_")
    p_dir, c_dir, j_dir = (os.path.join(stage, d) for d in ("p", "c", "j"))
    orders.filter(F.col("o_orderkey") % 3 == 0).write.mode("overwrite").parquet(p_dir)
    orders.filter(F.col("o_orderkey") % 3 == 1).write.mode("overwrite").option(
        "header", "true"
    ).csv(c_dir)
    orders.filter(F.col("o_orderkey") % 3 == 2).write.mode("overwrite").json(j_dir)
    schema = orders.schema
    federated = (
        spark.read.parquet(p_dir)
        .unionByName(read_csv(spark, c_dir, schema))
        .unionByName(read_json(spark, j_dir, schema))
    )
    return federated.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        F.min("o_orderdate").cast("string").alias("first_date"),
        F.max("o_orderdate").cast("string").alias("last_date"),
        F.sum(F.col("o_orderkey") % 3).cast("bigint").alias("slice_checksum"),
    )


ORACLES["source_federated_formats"] = """
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT o_custkey) AS n_customers,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(MIN(o_orderdate) AS VARCHAR) AS first_date,
       CAST(MAX(o_orderdate) AS VARCHAR) AS last_date,
       CAST(SUM(o_orderkey % 3) AS BIGINT) AS slice_checksum
FROM orders
"""


CORRUPT_EVERY = 13


def source_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 — malformed-record routing on a semi-structured source:
    a JSON-lines feed where every 13th record is truncated mid-object
    (the shape a flaky upstream actually produces) is read in
    PERMISSIVE mode with ``columnNameOfCorruptRecord``, so bad lines
    land in a quarantine column instead of killing the job (FAILFAST)
    or silently vanishing (DROPMALFORMED). The report reconciles the
    split exactly: good-row count + exact-decimal balance sum +
    corrupt count, value-oracled against the original table with the
    same corruption rule — proving good rows round-trip losslessly
    THROUGH the JSON text and bad rows are all accounted for.

    The feed is staged distributed (to_json per row, corrupted rows
    rewritten by a scan-side expression — no driver loop, no
    collect); explicit schema on read (inference is an extra full
    pass). At 100 TB the quarantine column feeds E23's dead-letter
    routing; nothing here changes shape."""
    import os

    from proceso_de_etl_spark.sources.catalog import load_table

    cust = load_table(spark, sf_dir, "customer")
    line = F.to_json(
        F.struct(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("bal"),
        )
    )
    broken = F.concat(F.lit('{"key": '), F.col("c_custkey").cast("string"), F.lit(', "bal": '))
    feed = cust.select(
        F.when(F.col("c_custkey") % CORRUPT_EVERY == 0, broken)
        .otherwise(line)
        .alias("value")
    )
    stage = os.path.join(cachereg.scratch_dir("corrupt_json_"), "feed")
    feed.write.mode("overwrite").text(stage)
    parsed = (
        spark.read.schema("key bigint, name string, bal double, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(stage)
    )
    return parsed.agg(
        F.count("*").alias("n_lines"),
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_good"),
        F.count(F.col("_corrupt")).alias("n_quarantined"),
        F.sum(
            F.when(F.col("_corrupt").isNull(), F.col("bal")).cast("decimal(18,2)")
        )
        .cast("double")
        .alias("good_bal_sum"),
        F.countDistinct(F.when(F.col("_corrupt").isNull(), F.col("key"))).alias(
            "n_good_keys"
        ),
    )


ORACLES["source_corrupt_records"] = f"""
SELECT COUNT(*) AS n_lines,
       COUNT(CASE WHEN c_custkey % {CORRUPT_EVERY} <> 0 THEN 1 END) AS n_good,
       COUNT(CASE WHEN c_custkey % {CORRUPT_EVERY} = 0 THEN 1 END) AS n_quarantined,
       CAST(SUM(CASE WHEN c_custkey % {CORRUPT_EVERY} <> 0
                     THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS good_bal_sum,
       COUNT(DISTINCT CASE WHEN c_custkey % {CORRUPT_EVERY} <> 0 THEN c_custkey END) AS n_good_keys
FROM customer
"""


_ROUNDTRIP_FORMATS = ("parquet", "orc", "csv", "json")


def source_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 — sink/source round-trip parity audit: the SAME frame
    written through every format the engine ships (parquet, ORC,
    CSV, JSON) and read back with explicit schemas must reproduce
    byte-identical content — counts, distinct keys, exact-decimal
    revenue, date range — in all four. One report row per format;
    the oracle computes the expected checksums once from the
    original table and expects them for EVERY format row, so any
    format that drops precision (doubles through CSV text, dates
    through JSON) fails loudly on its own row. This is the audit a
    lake runs before trusting a format migration (S12 federates the
    formats; this proves each leg lossless in isolation)."""
    import os

    from proceso_de_etl_spark.sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    stage = cachereg.scratch_dir("roundtrip_")
    frames = []
    for fmt in _ROUNDTRIP_FORMATS:
        path = os.path.join(stage, fmt)
        w = orders.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", "true")
        w.format(fmt).save(path)
        r = spark.read
        if fmt in ("csv", "json"):
            r = r.schema(orders.schema)
            if fmt == "csv":
                r = r.option("header", "true")
        back = r.format(fmt).load(path)
        frames.append(
            back.agg(
                F.lit(fmt).alias("fmt"),
                F.count("*").alias("n_rows"),
                F.countDistinct("o_orderkey").alias("n_keys"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("revenue"),
                F.min("o_orderdate").cast("string").alias("first_date"),
                F.max("o_orderdate").cast("string").alias("last_date"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


ORACLES["source_format_roundtrip"] = "\nUNION ALL\n".join(
    f"""SELECT '{fmt}' AS fmt, COUNT(*) AS n_rows,
       COUNT(DISTINCT o_orderkey) AS n_keys,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(MIN(o_orderdate) AS VARCHAR) AS first_date,
       CAST(MAX(o_orderdate) AS VARCHAR) AS last_date
FROM orders"""
    for fmt in _ROUNDTRIP_FORMATS
)


QUERIES = {
    "source_format_roundtrip": source_format_roundtrip,
    "source_corrupt_records": source_corrupt_records,
    "source_binary_files": source_binary_files,
    "source_federated_formats": source_federated_formats,
}
