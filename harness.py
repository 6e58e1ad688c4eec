"""Shared plumbing for the root scripts (bench.py, time_keys.py,
sweep.py, scale_curve.py, capture_plans.py): the SF directory
(``$SPARK_GRAFT_SF_DIR``, default sf0.1), session start and warm-up,
the noop-sink timer and lower median, the release of every shared
persist between passes, the next artifact round, and the strict
oracle check."""

from __future__ import annotations

import glob
import os
import re
import time
import traceback
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from proceso_de_etl_spark import cachereg
from proceso_de_etl_spark.operators import dedup, ml
from proceso_de_etl_spark.session import get_spark
from proceso_de_etl_spark.sources.catalog import DEFAULT_SF_DIR as SF_DIR  # noqa: F401

import __spark_entry__ as entrymod
from tests.oracle_harness import canonicalize, duckdb_con  # noqa: F401

ROOT = os.path.dirname(os.path.abspath(__file__))


def time_noop(build: Callable[[], DataFrame]) -> float:
    """Seconds to build a frame and execute it into the noop sink: full
    plan execution without driver-side materialization."""
    t0 = time.perf_counter()
    build().write.mode("overwrite").format("noop").save()
    return round(time.perf_counter() - t0, 3)


def start(app_name: str, warm_dir: str | None = None) -> SparkSession:
    """Start the session; with ``warm_dir``, run q6_forecast_revenue
    there once into the noop sink first, so JVM start, codegen and file
    listing stay outside every timed region."""
    spark = get_spark(app_name=app_name)
    if warm_dir is not None:
        time_noop(lambda: entrymod.queries()["q6_forecast_revenue"](spark, warm_dir))
    return spark


def median(xs: list[float]) -> float:
    """Lower median: an even count takes the lower middle, so a floor
    re-seed never averages two samples into a value never measured."""
    return sorted(xs)[(len(xs) - 1) // 2]


def release(spark: SparkSession) -> None:
    """Drop every shared persist, memo and tracked broadcast, so the
    next pass measures the same work as the first."""
    dedup.unpersist_shingles()
    ml.unpersist_copurchase()
    cachereg.release_all()
    spark.catalog.clearCache()


def next_round(root: str = ROOT) -> int:
    """One past the highest round of any ``*_rNN.json`` artifact."""
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(root, "*_r*.json"))
        if (m := re.search(r"_r(\d+)\.json$", p))
    ]
    return max(rounds, default=0) + 1


def check(spark: SparkSession, con, sf: str, key: str, sql: str | None = None) -> dict:
    """Strict oracle gate for one key (the sweep's ledger row): row
    count, column names and exact-repr canonicalized values. ``sql``
    defaults to the key's registered oracle; any exception, an unknown
    key included, lands in ``err`` instead of raising."""
    row = {
        "rows_match": False,
        "schema_match": False,
        "hash_match": False,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
    }
    t0 = time.time()
    try:
        got = entrymod.queries()[key](spark, sf).toPandas()
        want = con.sql(sql if sql is not None else entrymod.oracle_sql()[key]).df()
        row["spark_rows"], row["oracle_rows"] = len(got), len(want)
        row["rows_match"] = len(got) == len(want)
        row["schema_match"] = sorted(got.columns) == sorted(want.columns)
        if row["rows_match"] and row["schema_match"]:
            row["hash_match"] = canonicalize(got) == canonicalize(want)
    except Exception:
        row["err"] = traceback.format_exc(limit=3)
    row["sec"] = round(time.time() - t0, 3)
    return row


def passed(row: dict) -> bool:
    return row["rows_match"] and row["schema_match"] and row["hash_match"]
