#!/usr/bin/env python3
"""Median-of-N noop-sink timings for named queries() keys (guide §1.4):
isolates the computation in a fresh JVM, releasing shared caches
between reps exactly the way bench.py does.

Each timed call runs under Spark job group ``<key>``, so an event log
of the run rolls up per key with ``perfbench.eventlog.read``.

Usage: python time_keys.py <reps> <key> [<key> ...]
"""

from __future__ import annotations

import json
import sys

import harness


def main() -> None:
    reps = int(sys.argv[1])
    keys = sys.argv[2:]
    sf_dir = harness.SF_DIR
    spark = harness.start("time_keys", warm_dir=sf_dir)
    sc = spark.sparkContext
    queries = harness.entrymod.queries()

    samples: dict[str, list[float]] = {k: [] for k in keys}
    for _ in range(reps):
        for key in keys:
            sc.setJobGroup(key, key)
            samples[key].append(harness.time_noop(lambda: queries[key](spark, sf_dir)))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        harness.release(spark)
    out = {k: {"median": harness.median(v), "samples": v} for k, v in samples.items()}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
