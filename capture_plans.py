#!/usr/bin/env python3
r"""Capture .explain("formatted") output for named queries() keys.

Usage: python capture_plans.py <outdir> <suffix> <key> [<key> ...]

Writes <outdir>/<key>_<suffix>.txt for each key, and the returned
frame's optimized logical plan, with the session counters masked
(expression ids ``#\d+L?`` -> ``#``, the ``plan_id=`` of the cached
physical plans an InMemoryRelation prints -> ``plan_id=#``), to
<outdir>/optimized/<key>.txt: run it from two checkouts into two
outdirs and ``diff -r <a>/optimized <b>/optimized`` lists the keys
whose plans differ. A key whose
operator runs no localCheckpoint gets its returned frame's formatted
plan, bare. An iterative key also gets the PRE-checkpoint plan of
every localCheckpoint site it executes — the plan that actually runs
each round — instead of only the vacuous post-checkpoint plan of the
final frame (the r13 verdict's item 6): each site delimited, the
final returned frame's plan last.

Works by wrapping DataFrame.localCheckpoint: each call first records
``self``'s formatted plan (exactly the plan whose materialization the
eager checkpoint triggers), then delegates. Run it once from a
checkout of the old code (suffix "before") and once from HEAD (suffix
"after") for the plans/r*/ deliverables.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

import harness

# Spark 4: pyspark.sql.DataFrame is the abstract facade; operators
# receive pyspark.sql.classic.dataframe.DataFrame instances, which
# OVERRIDE localCheckpoint — patch the concrete class.
from pyspark.sql.classic.dataframe import DataFrame


def fmt(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def optimized(df: DataFrame) -> str:
    """The optimized logical plan with expression and plan ids masked,
    so the same plan prints the same text in any session."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"plan_id=\d+", "plan_id=#", re.sub(r"#\d+L?", "#", plan))


def main() -> None:
    outdir, suffix, *keys = sys.argv[1:]
    os.makedirs(os.path.join(outdir, "optimized"), exist_ok=True)
    sf_dir = harness.SF_DIR
    spark = harness.start("capture_plans")
    queries = harness.entrymod.queries()
    orig = DataFrame.localCheckpoint

    for key in keys:
        captured: list[str] = []

        def spy(self, eager=True):  # noqa: ANN001
            captured.append(fmt(self))
            return orig(self, eager=eager)

        DataFrame.localCheckpoint = spy
        try:
            df = queries[key](spark, sf_dir)
        finally:
            DataFrame.localCheckpoint = orig
        final = fmt(df)
        if captured:
            final = f"==== final returned frame ====\n{final}"
        parts = [
            f"==== checkpoint site {i + 1}/{len(captured)} (pre-checkpoint plan) ====\n{p}"
            for i, p in enumerate(captured)
        ] + [final]
        path = os.path.join(outdir, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write("\n".join(parts))
        with open(os.path.join(outdir, "optimized", f"{key}.txt"), "w") as f:
            f.write(optimized(df))
        nex = sum(p.count("Exchange") for p in captured)
        print(
            f"wrote {path}: {len(captured)} checkpoint sites, "
            f"{nex} Exchange nodes across round plans",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
