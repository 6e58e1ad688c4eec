"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM with N threads; on a real cluster the same
configs apply per-executor. AQE is the load-bearing setting at scale:
it re-plans shuffles at runtime (partition coalescing, skew-join
splitting, dynamic broadcast) which is what makes a fixed
``shuffle.partitions`` safe to pick statically here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``$SPARK_GRAFT_DRIVER_MEM`` is
    unset: half of physical memory in whole GiB, capped at 16g and at
    least 1g, so a local JVM never asks for more heap than the machine
    has (a 15 GiB machine gets 7g)."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(16, phys // 2 // 2**30))}g"


def get_spark(app_name: str = "proceso_de_etl_spark", cpus: str | None = None) -> SparkSession:
    """Create (or fetch) the session.

    UTC timezone is pinned so timestamp semantics match ANSI-SQL
    engines (the DuckDB oracle, a warehouse sink) exactly. Arrow is
    enabled so the few Pandas-UDF operators (minhash, multimodal)
    transfer columnar batches instead of pickled rows.
    """
    cpus = cpus or DEFAULT_CPUS
    # Python workers are spawned by the JVM with the JVM's env — they
    # don't see driver-side sys.path edits. Exporting the package
    # parent here makes mapInPandas/pandas-UDF closures importable no
    # matter where the driver process was launched from.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_parent + (os.pathsep + existing if existing else "")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet has stored TIMESTAMP(NANOS) (reader
        # rejects it without nanosAsLong) and, after a regeneration,
        # naive TIMESTAMP(MICROS) (reads as NTZ unless NTZ inference
        # is off). Pin both so ts always lands as a UTC instant;
        # catalog.load_table converts whichever shows up.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # write timestamps as INT64 TIMESTAMP(MICROS), not the legacy
        # INT96 default: INT96 is deprecated in the parquet spec,
        # unreadable through the nanosAsLong long-path, and a trap for
        # any downstream engine reading this engine's output
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        # stage progress bars corrupt captured stdout/stderr records
        # (the per-round driver keeps only a short tail of bench
        # output; 2000 chars of \r-rewritten bars would evict the
        # JSON line it needs to parse)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Pin the ADAPTIVE broadcast threshold to the same bound
        # instead of inheriting whatever the static threshold resolves
        # to at runtime: AQE's SMJ→BHJ conversion happens after both
        # sides' shuffle files are already written, so the conversion
        # is only a win when the local shuffle reader (below) skips
        # the shuffle fetch. 64m bounds that double-planned work to
        # sides that genuinely fit an executor; SF-scaling tables
        # (customer at 100 TB) exceed it and stay sort-merge.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        # read converted-join map outputs locally, no shuffle fetch —
        # this is what makes runtime conversion ~free (default true;
        # pinned because the conversion-cost bound above relies on it)
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        # Runtime bloom-filter join pruning: build a bloom of the
        # filtered build side's join keys and push it into the probe
        # side's scan (semi-join-heavy shapes: q4/q20/q21). Default
        # thresholds (creation side ≤ 10 MB after filter, probe scan ≥
        # 10 GB) mean it engages exactly in the 100 TB regime, not on
        # test data; tests force-lower the thresholds to assert shape.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # JVM case mapping for lower/upper/initcap instead of ICU's. In
        # ICU mode the first case mapping in a JVM loads
        # CollationAwareUTF8String, whose static initializer calls
        # UCharacter.toTitleCase for every code point up to U+10FFFF
        # (1.3-2.0 s per driver or executor JVM; 0.2 s with this off).
        # ASCII strings take the same fast path either way; non-ASCII
        # ones go through java.lang.String case mapping in the JVM
        # default locale, which equals ICU's root full mapping except
        # in the tr, az and lt locales (dotted/dotless i, Lithuanian
        # dot-above). initcap lower-cases first and then title-cases
        # each word's first char, so a word opening with U+212A
        # (Kelvin) or U+0130 starts with "K" or "I" + U+0307 where
        # ICU keeps the letter.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
