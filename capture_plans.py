#!/usr/bin/env python3
r"""Capture .explain("formatted") output for named queries() keys.

Usage: python capture_plans.py <outdir> <suffix> <key> [<key> ...]

Writes <outdir>/<key>_<suffix>.txt for each key, and the returned
frame's optimized logical plan, with the session counters masked
(``mask``: expression ids, lambda-variable suffixes, the ``plan_id=``
of cached physical plans, and the group order of distinct-aggregate
rewrites), to <outdir>/optimized/<key>.txt: run it from two checkouts
into two outdirs and ``diff -r <a>/optimized <b>/optimized`` lists the
keys whose plans differ. A key whose
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


def _split_top(body: str) -> list[str]:
    """The comma-separated items of a bracketed list's body, splitting
    only outside nested brackets and parentheses."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(body[start:i].strip())
            start = i + 1
    items.append(body[start:].strip())
    return items


def _bracket_end(text: str, start: int) -> int:
    """Index just past the bracket that closes ``text[start]``."""
    depth = 0
    for i in range(start, len(text)):
        if text[i] in "([":
            depth += 1
        elif text[i] in ")]":
            depth -= 1
            if depth == 0:
                return i + 1
    raise ValueError(f"unbalanced plan text: {text[start:start + 80]!r}")


def _canonical_expand(line: str) -> tuple[str, dict[str, str]]:
    """A distinct-aggregate ``Expand`` line with its columns in name
    order and its projections sorted, plus the old→new ``gid`` map.
    The rewrite orders the distinct groups, and so the columns and the
    gid numbers, by a hash that depends on the session's expression
    ids; this order does not."""
    head, _, rest = line.partition("Expand ")
    projs_end = _bracket_end(rest, 0)
    projs = [_split_top(p[1:-1]) for p in _split_top(rest[1:projs_end - 1])]
    out_start = rest.index("[", projs_end)
    out_end = _bracket_end(rest, out_start)
    out = _split_top(rest[out_start + 1:out_end - 1])
    order = sorted(range(len(out)), key=lambda i: out[i])
    g = out.index("gid#")
    rows = sorted(
        ([p[i] if i != g else "?" for i in order], p[g]) for p in projs
    )
    gids = {old: str(new) for new, (_, old) in enumerate(rows)}
    for cols, old in rows:
        cols[order.index(g)] = gids[old]
    body = ", ".join("[" + ", ".join(cols) + "]" for cols, _ in rows)
    outs = ", ".join(out[i] for i in order)
    return f"{head}Expand [{body}], [{outs}]{rest[out_end:]}", gids


def _canonical_group_by(line: str) -> str:
    """An ``Aggregate`` line grouping by ``gid``, its grouping columns
    (and the same leading columns of its output) in name order."""
    head, _, rest = line.partition("Aggregate ")
    groups_end = _bracket_end(rest, 0)
    groups = _split_top(rest[1:groups_end - 1])
    out_start = rest.index("[", groups_end)
    out_end = _bracket_end(rest, out_start)
    out = _split_top(rest[out_start + 1:out_end - 1])
    if out[: len(groups)] == groups:
        out[: len(groups)] = sorted(groups)
    return (
        f"{head}Aggregate [{', '.join(sorted(groups))}], "
        f"[{', '.join(out)}]{rest[out_end:]}"
    )


_GID = re.compile(r"\bgid#")


def canonical_distinct(plan: str) -> str:
    """Renumber and reorder the ``gid`` groups of every distinct-
    aggregate rewrite into one order any session prints. Each
    ``Expand`` owns the ``gid`` references printed after the previous
    ``Expand`` line (its parent aggregates print just above it)."""
    lines = plan.split("\n")
    owner_start = 0
    for n, line in enumerate(lines):
        if "Expand [" not in line or not _GID.search(line):
            continue
        lines[n], gids = _canonical_expand(line)
        for m in range(owner_start, n):
            if not _GID.search(lines[m]):
                continue
            if "Aggregate [" in lines[m] and "gid#]" in lines[m]:
                lines[m] = _canonical_group_by(lines[m])
            lines[m] = re.sub(
                r"\bgid# = (\d+)", lambda g: f"gid# = {gids.get(g.group(1), g.group(1))}", lines[m]
            )
        owner_start = n + 1
    return "\n".join(lines)


def mask(plan: str) -> str:
    """A plan's text with the session counters masked: expression ids
    ``#\\d+L?`` -> ``#``, lambda-variable suffixes ``x_\\d+`` -> ``x_#``,
    the ``plan_id=`` of the cached physical plans an InMemoryRelation
    prints -> ``plan_id=#``, and distinct-aggregate groups in
    ``canonical_distinct`` order."""
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"(lambda \w+?)_\d+#", r"\1_#", plan)
    return canonical_distinct(re.sub(r"plan_id=\d+", "plan_id=#", plan))


def optimized(df: DataFrame) -> str:
    """The optimized logical plan, ``mask``ed, so the same plan prints
    the same text in any session."""
    return mask(df._jdf.queryExecution().optimizedPlan().toString())


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
