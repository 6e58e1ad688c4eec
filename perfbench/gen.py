"""Seeded input generator for the benchmark.

Every tier is derived from the star-schema tables in ``data/sf0.001``
(a verbatim copy of the engine's sf0.001 test tier, kept in the
benchmark's directory because a run may read nothing outside its
checkout):

- ``sf0.001``: those tables themselves;
- ``x100``: a hundred disjoint replicas of them, about the row counts of
  sf0.1, built with the replica rules of ``scale_curve.gen_derived``:
  surrogate keys shifted per replica, a replica tag in front of
  ``c_name``, a per-replica suffix on every document word, and
  embeddings rotated by the replica index (sign-flipped past 64).

The table *contents* of a tier never change, so every run of a
workload does the same work and every oracle digest is the same
whatever the seed. The seed permutes each table's row order (and with
it the order of the replicas) and picks where the table is cut into
part files. The same seed gives byte-identical files.

Only pyarrow and numpy are used; no Spark session is started.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")

# replicas per tier
TIERS = {"sf0.001": 1, "x100": 100}

# per-replica key offsets, as in scale_curve.gen_derived
OFF = {
    "custkey": 100_000,
    "orderkey": 1_000_000,
    "partkey": 100_000,
    "suppkey": 10_000,
    "event_id": 1_000_000,
    "user_id": 10_000,
    "doc_id": 100_000,
    "vec_id": 100_000,
}

SHIFTS = {
    "customer": {"c_custkey": OFF["custkey"]},
    "supplier": {"s_suppkey": OFF["suppkey"]},
    "part": {"p_partkey": OFF["partkey"]},
    "orders": {"o_orderkey": OFF["orderkey"], "o_custkey": OFF["custkey"]},
    "lineitem": {"l_orderkey": OFF["orderkey"], "l_partkey": OFF["partkey"], "l_suppkey": OFF["suppkey"]},
    "events": {"event_id": OFF["event_id"], "user_id": OFF["user_id"]},
    "documents": {"doc_id": OFF["doc_id"]},
    "embeddings": {"vec_id": OFF["vec_id"]},
}

# part files per table; the seed picks where the cuts fall
PART_FILES = {
    "region": 1,
    "nation": 1,
    "customer": 2,
    "supplier": 1,
    "part": 2,
    "orders": 3,
    "lineitem": 4,
    "events": 2,
    "documents": 2,
    "embeddings": 2,
}

TABLES = tuple(PART_FILES)

# seed directories kept per tier; older ones are removed
KEEP_SEEDS = 3


def base_tables() -> dict[str, pa.Table]:
    return {t: pq.read_table(os.path.join(BASE, f"{t}.parquet")) for t in TABLES}


def _set(tab: pa.Table, name: str, values) -> pa.Table:
    return tab.set_column(tab.schema.get_field_index(name), tab.schema.field(name), values)


def replica(name: str, tab: pa.Table, i: int) -> pa.Table:
    """Replica ``i`` of a base table; replica 0 is the table itself."""
    if i == 0 or name not in SHIFTS:
        return tab
    for col, off in SHIFTS[name].items():
        tab = _set(tab, col, pc.add(tab[col], pa.scalar(i * off, tab[col].type)))
    if name == "customer":
        tab = _set(tab, "c_name", pc.binary_join_element_wise(f"r{i:02d}~", tab["c_name"], ""))
    elif name == "documents":
        text = pc.replace_substring_regex(tab["text"], r"(\S+)", rf"\1{i}")
        tab = _set(tab, "text", text)
        tab = _set(tab, "n_chars", pc.utf8_length(text).cast(tab.schema.field("n_chars").type))
    elif name == "embeddings":
        col = tab["embedding"].combine_chunks()
        dim = len(col[0])
        m = col.values.to_numpy(zero_copy_only=False).reshape(-1, dim)
        m = np.roll(m, -(i % dim), axis=1)
        if i >= dim:  # rotation period exhausted: a sign flip keeps the replica decorrelated
            m = -m
        tab = _set(tab, "embedding", pa.ListArray.from_arrays(col.offsets, pa.array(m.ravel(), col.type.value_type)))
    return tab


def tier_tables(tier: str) -> dict[str, pa.Table]:
    if tier not in TIERS:
        raise ValueError(f"unknown tier {tier!r}")
    n = TIERS[tier]
    return {
        name: tab if name in ("region", "nation") else pa.concat_tables(replica(name, tab, i) for i in range(n))
        for name, tab in base_tables().items()
    }


def _cuts(rng: np.random.Generator, n: int, k: int) -> list[int]:
    """Bounds of ``k`` part files over ``n`` rows: each cut moves by up
    to a quarter of a part from an even split, so no part is so small
    that it misses whole partition values of a partitioned write."""
    k = min(k, n)
    step = n / k
    inner = [round(j * step + rng.uniform(-0.25, 0.25) * step) for j in range(1, k)]
    return [0, *inner, n]


def write_tier(tier: str, seed: int, out_dir: str) -> None:
    """Write the tier's tables under ``out_dir`` with the seed's row
    order and part-file cuts."""
    for ti, (name, tab) in enumerate(tier_tables(tier).items()):
        rng = np.random.default_rng([seed, ti])
        tab = tab.take(pa.array(rng.permutation(tab.num_rows)))
        bounds = _cuts(rng, tab.num_rows, PART_FILES[name])
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir)
        for j in range(len(bounds) - 1):
            part = tab.slice(bounds[j], bounds[j + 1] - bounds[j])
            pq.write_table(part, os.path.join(tdir, f"part-{j:05d}.parquet"))


def ensure_inputs(cache_root: str, tier: str, seed: int) -> str:
    """Return the tier's directory for ``seed``, generating it once.
    Generation goes to a temporary sibling first, so an interrupted run
    never leaves a half-written tier behind; only the newest
    ``KEEP_SEEDS`` seeds of a tier are kept."""
    final = os.path.join(cache_root, f"{tier}-seed{seed}")
    if not os.path.isdir(final):
        os.makedirs(cache_root, exist_ok=True)
        tmp = final + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        write_tier(tier, seed, tmp)
        os.rename(tmp, final)
    os.utime(final)
    mine = [os.path.join(cache_root, d) for d in os.listdir(cache_root) if d.startswith(f"{tier}-seed")]
    for old in sorted(mine, key=os.path.getmtime)[:-KEEP_SEEDS]:
        if old != final:
            shutil.rmtree(old, ignore_errors=True)
    return final
