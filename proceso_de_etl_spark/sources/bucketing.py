"""Bucketed tables: the storage-side half of shuffle elimination
(SURVEY.md §4's co-location claim, demonstrated).

``bucketBy(n, key)`` hash-partitions table FILES by the join key at
write time. When two tables share bucket count and key, a join reads
bucket i against bucket i directly — no Exchange on either side, the
single biggest saving available for a repeated big-big join (at
100 TB the lineitem ⋈ orders shuffle IS the job; bucketing pays the
shuffle once at write time and amortizes it over every later join).
tests/test_bucketing.py asserts the plan property: SortMergeJoin
with ZERO Exchange operators.

Bucketed tables must live in a catalog (files alone don't carry
bucket metadata), so the operator stages them as EXTERNAL tables
under a per-session temp dir and drops/recreates idempotently —
the same write-then-register motion a warehouse deployment uses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from proceso_de_etl_spark import cachereg
from proceso_de_etl_spark.functions.columns import dsum
from proceso_de_etl_spark.sources.catalog import load_table

ORACLES: dict[str, str] = {}

N_BUCKETS = 8


def write_bucketed(df: DataFrame, key: str, name: str, path: str, n_buckets: int = N_BUCKETS) -> None:
    """Stage ``df`` as an external bucketed+sorted table. The
    pre-write repartition on the bucket key yields ONE file per
    bucket — without it every write task emits a file per bucket,
    the small-files explosion that kills 100 TB listing/scan times.
    (The within-bucket sort is stored too, though the reader only
    consumes it behind the legacy bucketedTableScan.outputOrdering
    flag — the join keeps a cheap partition-local sort.)"""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.repartition(n_buckets, F.col(key))
        .write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", os.path.join(path, name))
        .format("parquet")
        .saveAsTable(name)
    )


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage orders and lineitem bucketed by orderkey, then join and
    aggregate revenue per order priority. The JOIN itself moves no
    data (bucket-aligned scan on both sides — plan-asserted); only
    the 5-group aggregate shuffles. Values are bucketing-independent,
    so the oracle is the plain SQL join."""
    workdir = cachereg.scratch_dir("bucketed_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    write_bucketed(orders, "o_orderkey", "bkt_orders", workdir)
    write_bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "bkt_lineitem", workdir)

    bo = spark.table("bkt_orders")
    bl = spark.table("bkt_lineitem")
    return (
        bl.join(bo, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"),
        )
    )


ORACLES["bucketed_colocated_join"] = """
SELECT o_orderpriority, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


QUERIES = {
    "bucketed_colocated_join": bucketed_colocated_join,
}
