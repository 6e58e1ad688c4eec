import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(d):
        dirs.sort()
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(root, f), d).encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _rows(d: str, table: str) -> list:
    t = pq.read_table(os.path.join(d, f"{table}.parquet"))
    return sorted(map(repr, t.to_pylist()))


def test_same_seed_gives_byte_identical_files(tmp_path):
    for tier in gen.TIERS:
        a, b = tmp_path / f"{tier}-a", tmp_path / f"{tier}-b"
        gen.write_tier(tier, 7, str(a))
        gen.write_tier(tier, 7, str(b))
        assert _digest(str(a)) == _digest(str(b))


def test_seed_changes_order_and_split_not_content(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_tier("sf0.001", 1, str(a))
    gen.write_tier("sf0.001", 2, str(b))
    assert _digest(str(a)) != _digest(str(b))
    for table in gen.TABLES:
        assert _rows(str(a), table) == _rows(str(b), table)
        assert _rows(str(a), table) == sorted(map(repr, gen.base_tables()[table].to_pylist()))


def test_x100_replicas_are_disjoint(tmp_path):
    d = tmp_path / "x100"
    gen.write_tier("x100", 3, str(d))
    base = gen.base_tables()
    n = gen.TIERS["x100"]
    cust = pq.read_table(os.path.join(d, "customer.parquet")).to_pydict()
    assert len(set(cust["c_custkey"])) == len(cust["c_custkey"]) == n * base["customer"].num_rows
    assert len(set(cust["c_name"])) == len(cust["c_name"])
    li = pq.read_table(os.path.join(d, "lineitem.parquet"))
    assert li.num_rows == n * base["lineitem"].num_rows
    docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pydict()
    assert len(set(docs["text"])) == n * len(set(base["documents"]["text"].to_pylist()))
    assert all(len(t) == c for t, c in zip(docs["text"], docs["n_chars"]))
    assert pq.read_table(os.path.join(d, "region.parquet")).num_rows == base["region"].num_rows


def test_embedding_replicas_rotate_then_flip():
    emb = gen.base_tables()["embeddings"]
    m0 = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
    for i in (0, 5, 70):
        mi = np.stack(gen.replica("embeddings", emb, i)["embedding"].to_numpy(zero_copy_only=False))
        want = np.roll(m0, -(i % 64), axis=1) * (-1 if i >= 64 else 1)
        assert np.array_equal(mi, want)


def test_ensure_inputs_reuses_the_cached_tier_and_keeps_the_newest(tmp_path):
    first = gen.ensure_inputs(str(tmp_path), "sf0.001", 5)
    stamp = os.path.getmtime(os.path.join(first, "orders.parquet"))
    assert gen.ensure_inputs(str(tmp_path), "sf0.001", 5) == first
    assert os.path.getmtime(os.path.join(first, "orders.parquet")) == stamp
    for seed in range(6, 6 + gen.KEEP_SEEDS):
        gen.ensure_inputs(str(tmp_path), "sf0.001", seed)
    kept = sorted(os.listdir(tmp_path))
    assert len(kept) == gen.KEEP_SEEDS and "sf0.001-seed5" not in kept
