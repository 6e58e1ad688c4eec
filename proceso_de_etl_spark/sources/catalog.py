"""Catalog over the synthetic testdata star schema.

Tables live as one parquet file (or directory) per table under an
sf-dir. ``load_table`` returns a lazily planned DataFrame — Catalyst
prunes columns and pushes filters into the parquet scan, so callers
never pre-materialize. Each table's schema is inferred once per
session: parquet inference is a Spark job (a footer read), and an
engine pass loads the same few tables dozens of times.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# (applicationId, path, listing signature) -> inferred StructType. Holds
# no Spark storage, so it lives outside cachereg and needs no release.
_SCHEMAS: dict[tuple, T.StructType] = {}


def _ensure_session_confs(spark: SparkSession) -> None:
    """Defensive: the engine's queries may be called with a session
    the HOST built (e.g. the graft driver), which won't carry our
    factory configs. Two are load-bearing for correctness and are
    runtime-settable, so pin them here:
    - nanosAsLong: events.parquet generations that store
      TIMESTAMP(NANOS) throw PARQUET_TYPE_ILLEGAL without it;
    - inferTimestampNTZ off: generations that store naive
      TIMESTAMP(MICROS) must read as a UTC instant, not NTZ, so
      instant functions (unix_micros, window) resolve;
    - UTC session timezone: timestamp values must agree with
      UTC-naive ANSI engines (the DuckDB oracle)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # conf locked down — proceed with whatever the host set


def _listing_signature(path: str) -> tuple | None:
    """Sorted ``(name, size, mtime_ns)`` of the files a table path
    holds (the file itself for a one-file table, every file below it
    for a directory), or None when nothing local answers: a remote URI
    or a missing path then takes the uncached read, which infers, or
    raises PATH_NOT_FOUND, as a plain ``spark.read.parquet`` does."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        if not os.path.isdir(path):
            return None
        sig = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                st = os.stat(full)
                sig.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
        return tuple(sorted(sig))
    except OSError:  # a file vanished mid-listing: treat as unlisted
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    (session, path, listing). A repeat read passes the kept schema, so
    it launches no inference job; it is still a new relation with new
    attribute ids, so self-joins resolve. Rewriting the path changes
    its listing, and the next read infers again."""
    sig = _listing_signature(path)
    if sig is None:
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path, sig)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _ensure_session_confs(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # ts on disk varies by testdata generation: TIMESTAMP(NANOS)
        # (reads as epoch-nanos long under nanosAsLong) or naive
        # TIMESTAMP(MICROS) (reads as NTZ if a locked-down host
        # session kept NTZ inference on). Normalize both to a
        # Spark-native UTC instant; the naive values are UTC by the
        # generator's convention, so the NTZ→instant cast under the
        # pinned UTC session timezone is value-preserving.
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_catalog(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so plans can be written in SQL."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
