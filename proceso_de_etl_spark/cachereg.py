"""Keyed memoization registry for small shared sub-frames.

Operators whose plan fans one expensive sub-frame out to several
consumers (the KMV kept set, the sample-quantile kept set, the
backtest hourly rollup) need it materialized once per call — but a
bare ``.persist()`` inside the operator pins a NEW cache entry on
every invocation and nothing ever unpersists it, so repeated
invocations (bench reps, oracle sweeps) accumulate storage until LRU
pressure (r7 advisor). ``localCheckpoint`` was tried first and is NOT
a reliable fix: its blocks are ContextCleaner-managed only when the
JVM happens to collect the RDD, and measured behavior showed entries
surviving repeated forced GCs.

This registry is the deterministic version of the pattern
``ml._EDGE_CACHE`` / ``dedup._SHINGLE_CACHE`` already use: memoize the
persisted frame per (applicationId, name, sf_dir) so repeat
invocations reuse ONE entry instead of stacking new ones, and release
everything explicitly via ``release_all()`` (bench calls it at the end
of each pass, next to the shingle/edge hooks).

``scratch_dir`` is the same discipline for files: operators that stage
or write a table (landing dirs, change logs, state versions) take a
fresh directory per call, and ``release_all()`` removes every one it
handed out. A returned frame may read its directory lazily, so the
directories live until the caller releases, not until the call ends.
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_SCRATCH: list[str] = []


def memo(
    spark: SparkSession, name: str, sf_dir: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the persisted frame for (app, name, sf_dir), building it
    with ``build()`` on first use in this session."""
    key = (spark.sparkContext.applicationId, name, sf_dir)
    hit = _CACHE.get(key)
    if hit is not None:
        # An external spark.catalog.clearCache() (gate harnesses, test
        # teardowns) drops the storage WITHOUT going through
        # release_all(), leaving a memo hit that silently recomputes
        # per consumer — the exact fan-out cost memo exists to avoid
        # (r8 advisor). Re-pin when the storage level was cleared.
        if not hit.storageLevel.useMemory and not hit.storageLevel.useDisk:
            hit.persist()
        return hit
    df = build().persist()
    _CACHE[key] = df
    return df


def scratch_dir(prefix: str) -> str:
    """A new directory under ``tempfile.gettempdir()``, removed by the
    next ``release_all()``."""
    path = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH.append(path)
    return path


def release_all() -> None:
    """Unpersist and forget every memoized frame and remove every
    scratch directory; safe on a stopped session (mirrors
    dedup.unpersist_shingles)."""
    for df in _CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass  # session already gone - storage went with it
    _CACHE.clear()
    for path in _SCRATCH:
        shutil.rmtree(path, ignore_errors=True)
    _SCRATCH.clear()
