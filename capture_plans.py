#!/usr/bin/env python3
r"""Capture .explain("formatted") output for named queries() keys.

Usage: python capture_plans.py <outdir> <suffix> <key> [<key> ...]

Writes <outdir>/<key>_<suffix>.txt for each key, and the returned
frame's optimized logical plan to <outdir>/optimized/<key>.txt, both
with the session state masked (``mask``: expression ids,
lambda-variable suffixes, ``plan_id=``, RDD ids, ``mkdtemp``
directories, the cached plan an InMemoryRelation prints, and the group
order of distinct-aggregate rewrites): run it from two checkouts into
two outdirs and ``diff -r <a>/optimized <b>/optimized`` lists the keys
whose returned plans differ; with the same suffix in both runs,
``diff -r <a> <b>`` compares the per-site plans too. A key
whose operator runs no localCheckpoint gets its returned frame's
formatted plan. An iterative key also gets the PRE-checkpoint plan of
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
import tempfile
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


def _sort_before_gid(line: str) -> str:
    """``line`` with the items before ``gid#`` in name order, in every
    bracketed or parenthesized list that holds ``gid#``: the columns a
    distinct-aggregate rewrite puts before its ``gid``."""
    i = 0
    while i < len(line):
        if line[i] in "([":
            end = _bracket_end(line, i)
            items = _split_top(line[i + 1:end - 1])
            g = next((k for k, item in enumerate(items) if _GID.match(item)), 0)
            if g:
                body = ", ".join(sorted(items[:g]) + items[g:])
                line = line[:i + 1] + body + line[end - 1:]
        i += 1
    return line


def canonical_distinct_formatted(plan: str) -> str:
    """``canonical_distinct`` for a formatted physical plan: the
    ``Expand`` operator's details in ``_canonical_expand`` order, and
    in the details printed after it (its consumers come later in
    operator order) the columns before ``gid#`` sorted and the ``gid``
    numbers renumbered."""
    lines = plan.split("\n")
    gids, in_expand = None, False
    for n, line in enumerate(lines):
        if re.match(r"\(\d+\) Expand\b", line):
            in_expand = True
        elif not line.strip():
            in_expand = False
        elif in_expand and line.startswith("Arguments: [[") and _GID.search(line):
            expand, gids = _canonical_expand("Expand " + line[len("Arguments: "):])
            lines[n] = "Arguments: " + expand[len("Expand "):]
        elif gids is not None and _GID.search(line):
            lines[n] = re.sub(
                r"\bgid# = (\d+)",
                lambda g: f"gid# = {gids.get(g.group(1), g.group(1))}",
                _sort_before_gid(line),
            )
    return "\n".join(lines)


def _node_column(line: str) -> int:
    """Where a plan-tree line's node text starts, past its tree prefix."""
    return len(line) - len(line.lstrip(" :+-"))


_MARKERS = ("+- ", ":- ")


def _resumes_tree(line: str, prefix: str) -> bool:
    """Whether ``line`` is the next node of the tree that a node with
    tree prefix ``prefix`` sits in: a later sibling of it or of one of
    its ancestors. Such a line repeats ``prefix`` up to one of its
    ``:`` continuations and puts a child marker there."""
    return any(
        prefix[e] == ":"
        and line.startswith(prefix[:e])
        and line[e:e + 3] in _MARKERS
        and not line[e + 3:].startswith("==")
        for e in range(0, len(prefix), 3)
    )


def drop_cached_plans(plan: str) -> str:
    """The plan with every ``InMemoryRelation`` printed as its output
    and storage level only. The cached physical plan printed below it
    reads as the AQE final plan once the cache is materialized and as
    the initial plan before, so its text depends on what the session
    ran first. It ends where the enclosing tree resumes
    (``_resumes_tree``): Spark prints the ``== Final Plan ==`` blocks
    of a cached plan nested in another one at an indent that ignores
    the enclosing tree, so indentation alone cannot delimit it."""
    lines, out, i = plan.split("\n"), [], 0
    while i < len(lines):
        line = lines[i]
        out.append(line)
        i += 1
        prefix = line[:_node_column(line)]
        if "InMemoryRelation" in line and prefix.endswith(_MARKERS):
            while i < len(lines) and lines[i].strip() and not _resumes_tree(lines[i], prefix):
                i += 1
    return "\n".join(out)


_DETAIL = re.compile(r"(\n*)\((\d+)\) ")
_OP_REF = re.compile(r"(operator id[:=] ?)(\d+)")


def renumber_operators(plan: str) -> str:
    """A formatted plan with the details of operators no longer in its
    tree dropped and the remaining operator ids renumbered 1..n in
    their order, so a cached plan cut by ``drop_cached_plans`` leaves
    no gap. A plan without operator details (an optimized logical plan)
    is returned as is."""
    blocks = plan.split("\n\n")
    if not any(_DETAIL.match(b) for b in blocks):
        return plan
    seen = {
        m.group(1)
        for b in blocks
        if not _DETAIL.match(b)
        for line in b.split("\n")
        if (m := re.search(r"\((\d+)\)", line))
    }
    ids = {old: str(new) for new, old in enumerate(sorted(seen, key=int), 1)}
    out = []
    for b in blocks:
        if m := _DETAIL.match(b):
            if m.group(2) not in ids:
                continue
            b = f"{m.group(1)}({ids[m.group(2)]}) " + b[m.end():]
        else:
            b = re.sub(r"\((\d+)\)", lambda g: f"({ids.get(g.group(1), '?')})", b)
        out.append(_OP_REF.sub(lambda g: g.group(1) + ids.get(g.group(2), "?"), b))
    return "\n\n".join(out)


def mask(plan: str) -> str:
    """A plan's text with the session state masked: expression ids
    ``#\\d+L?`` -> ``#``, lambda-variable suffixes ``x_\\d+`` -> ``x_#``,
    the ``plan_id=`` of physical plans -> ``plan_id=#``, RDD ids
    ``MapPartitionsRDD[887] at localCheckpoint at <call site>`` ->
    ``MapPartitionsRDD[#] at localCheckpoint at #``, the random
    suffix of ``mkdtemp`` directories and the 16-hex-digit transaction
    directories of ``sources.atomic`` -> ``#``, cached plans cut by
    ``drop_cached_plans`` (operator ids renumbered), and
    distinct-aggregate groups in ``canonical_distinct`` order (for a
    formatted plan, ``canonical_distinct_formatted``)."""
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"(lambda \w+?)_\d+#", r"\1_#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=#", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[#]", plan)
    plan = re.sub(r"(RDD\[#\] at \w+ at )[^\s,]+", r"\1#", plan)
    plan = re.sub(r"/[0-9a-f]{16}(?=[/\s,\]]|$)", "/#", plan)
    tmp = tempfile.gettempdir()
    plan = re.sub(
        re.escape(tmp) + r"/([^/\s,\]]*?)[a-z0-9_]{8}(?=[/\s,\]]|$)",
        lambda m: f"{tmp}/{m.group(1)}#",
        plan,
    )
    plan = renumber_operators(drop_cached_plans(plan))
    return canonical_distinct_formatted(canonical_distinct(plan))


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
            f.write("\n".join(mask(p) for p in parts))
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
