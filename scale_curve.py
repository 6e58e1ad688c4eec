#!/usr/bin/env python3
"""sf0.01 → sf0.1 → sf1.0 scaling curves for the flagship families
(r8 verdict item 2): two decades of measured scale, one decade beyond
anything measured before, recorded next to the knob laws in SURVEY §4.

sf1.0 is DERIVED data: the driver only ships sf ≤ 0.1, so the decade
above it is built by disjoint 10× replication of sf0.1 with shifted
surrogate keys — every replica preserves the source's join structure,
degree distribution, dup density, and value distributions, so the
curve measures the ENGINE's response to 10× rows with the same shape
(what a scale curve is for), not a new dataset. Replica transforms:

- star tables: all surrogate keys shifted by replica × offset (offsets
  beyond each key's max), FKs shifted consistently — the join graph
  becomes 10 disjoint copies; dims (nation/region) shared as-is.
- documents: every word gets a per-replica suffix (replica 0 =
  original), so shingle/minhash structure is preserved WITHIN a
  replica and no cross-replica near-dups are fabricated (a plain copy
  would make every doc a 10-way near-dup and quadratically inflate
  every banded join — a corpus shape the real pipeline never has).
- embeddings: vector rotated by replica positions — norms and
  within-replica geometry exact, cross-replica cosines decorrelated.
- events: ids/users shifted, timestamps kept — 10× density in the
  same time window (the honest growth shape for windowed rollups).

Derived data lives under /tmp (regenerated on demand), never in the
repo and never used for CORRECTNESS gates — timing evidence only.

Usage: python scale_curve.py [round [key ...]]
  no keys: every FAMILIES entry, each in its own child process
           (``scale_curve.py <round> <family keys>``) merging into
           SCALE_r{N}.json;
  keys:    measure only these in this JVM and MERGE them into the
           existing SCALE_r{N}.json (re-measuring after a knob change).
Default round: next after the highest existing *_rNN.json artifact.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

import harness

SRC = "/root/testdata/sf0.1"
DERIVED = "/tmp/spark_graft_derived/sf1.0"
DERIVED10 = "/tmp/spark_graft_derived/sf10"
FACTOR = 10
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))

# key offsets: beyond every key's max at sf1.0-equivalent
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

# One JVM per family (r10 lesson: broadcast blocks accumulate until
# GC, so 45 measurements in one session OOM'd a broadcast that runs
# fine in a fresh JVM). Within a family the order is build-first, so
# downstream keys read the shared build warm (the bench attribution).
# The flagship families the r8 verdict named, plus the plan-changed
# graph/basket/profile/vault families re-curved in r13-r14; each
# family's knob law lives in SURVEY §4.
FAMILIES = {
    "star": ("etl_star_flagship",),
    "triangle": (
        "graph_copurchase_edges",
        "graph_oriented_adjacency",
        "graph_triangle_count",
        "graph_clustering_coeff",
        "graph_kcore",
    ),
    "truss": ("graph_copurchase_supported", "graph_ktruss"),
    "ranking": ("graph_purchase_edges", "graph_pagerank_ladder", "graph_hits_ladder"),
    "basket": ("basket_pair_counts", "market_basket_rules", "item_similarity_cf"),
    "community": (
        "graph_label_propagation",
        "graph_modularity",
        "graph_louvain_move",
        "graph_louvain_ladder",
    ),
    "ann_pinned": ("ann_ivf_pinned_topk", "ann_pq_pinned_topk", "ann_ivfpq_pinned_topk"),
    "dedup": ("dedup_minhash_lsh", "semdedup_pairs", "dedup_semantic_semdedup"),
    "smoothing": ("events_exp_smoothing", "events_holt_trend"),
    "profile": ("etl_profile_table", "etl_profile_table_approx"),
    "vault_stream": ("stream_data_vault_ingest",),
}

SF_DIRS = (
    ("0.01", "/root/testdata/sf0.01"),
    ("0.1", SRC),
    ("1.0", DERIVED),
)
# third derived decade (100x replication of sf0.1): enabled by
# SPARK_GRAFT_SF10=1 for the focused flagship pass — one more
# measured decade on top of the 14+19-key sf1.0 sweeps
SF_DIRS_10 = SF_DIRS + (("10", DERIVED10),)


def _shift(df: DataFrame, i: int, cols: dict[str, int]) -> DataFrame:
    for c, off in cols.items():
        df = df.withColumn(c, (F.col(c) + F.lit(i * off)).cast("bigint"))
    return df


def gen_derived(
    spark: SparkSession, out_dir: str = DERIVED, factor: int = FACTOR
) -> None:
    os.makedirs(out_dir, exist_ok=True)
    read = lambda t: spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))  # noqa: E731
    write = lambda df, t, n: df.repartition(n).write.mode("overwrite").parquet(  # noqa: E731
        os.path.join(out_dir, f"{t}.parquet")
    )

    for t in ("region", "nation"):
        write(read(t), t, 1)

    # file counts scale WITH the replication factor (r12): each
    # n_files below is sized for the sf1.0 tier (factor=10), so the
    # sf10 tier (factor=100) gets 10x the files at the SAME per-file
    # size. A fixed count would cap the sf10 scan at 8 unsplittable
    # ~7 MB files — 8-way parallelism on a 32-core box — and every
    # scan-bound curve would read ~superlinear for a reason that is
    # an artifact of the GENERATOR, not the engine: real data at 10x
    # the SF arrives as ~10x the files/splits (the driver's own
    # sf0.01 -> sf0.1 tiers do exactly that).
    files_scale = max(1, factor // FACTOR)

    def replicate(t: str, n_files: int, fn) -> None:
        src = read(t)
        out = None
        for i in range(factor):
            rep = fn(src, i)
            out = rep if out is None else out.unionByName(rep)
        write(out, t, n_files * files_scale)
        print(f"  {t}: {factor}x", flush=True)

    def cust_rep(df: DataFrame, i: int) -> DataFrame:
        df = _shift(df, i, {"c_custkey": OFF["custkey"]})
        if i:
            # names must be replica-unique IN THE BLOCK PREFIX (r11):
            # the ER family (E35/E51) blocks on substring(c_name,1,16);
            # a plain copy puts all 100 replicas of a customer in ONE
            # block and the block pair join goes quadratic in replicas
            # (measured: etl_data_vault_same_as_link 7.8 s at sf1.0 →
            # 187 s at sf10 on name-identical replicas) — the same
            # fabricated-near-dup trap doc_rep avoids for documents.
            # A leading replica tag keeps blocks replica-disjoint and
            # per-replica ER structure (variant plant, lev distances)
            # exactly preserved.
            df = df.withColumn("c_name", F.concat(F.format_string("r%02d~", F.lit(i)), F.col("c_name")))
        return df

    replicate("customer", 4, cust_rep)
    replicate("supplier", 1, lambda df, i: _shift(df, i, {"s_suppkey": OFF["suppkey"]}))
    replicate("part", 2, lambda df, i: _shift(df, i, {"p_partkey": OFF["partkey"]}))
    replicate(
        "orders",
        8,
        lambda df, i: _shift(
            df, i, {"o_orderkey": OFF["orderkey"], "o_custkey": OFF["custkey"]}
        ),
    )
    replicate(
        "lineitem",
        32,
        lambda df, i: _shift(
            df,
            i,
            {
                "l_orderkey": OFF["orderkey"],
                "l_partkey": OFF["partkey"],
                "l_suppkey": OFF["suppkey"],
            },
        ),
    )
    replicate(
        "events",
        16,
        lambda df, i: _shift(
            df, i, {"event_id": OFF["event_id"], "user_id": OFF["user_id"]}
        ),
    )

    def doc_rep(df: DataFrame, i: int) -> DataFrame:
        df = _shift(df, i, {"doc_id": OFF["doc_id"]})
        if i:
            df = df.withColumn(
                "text", F.regexp_replace("text", r"(\S+)", f"$1{i}")
            ).withColumn("n_chars", F.length("text").cast("bigint"))
        return df

    replicate("documents", 8, doc_rep)

    def emb_rep(df: DataFrame, i: int) -> DataFrame:
        df = _shift(df, i, {"vec_id": OFF["vec_id"]})
        rot = i % 64
        if rot:
            df = df.withColumn(
                "embedding",
                F.concat(
                    F.slice("embedding", rot + 1, 64 - rot), F.slice("embedding", 1, rot)
                ),
            )
        if i >= 64:  # rotation period exhausted: sign-flip keeps the
            # replica decorrelated (norms/within-replica geometry exact)
            df = df.withColumn(
                "embedding", F.transform("embedding", lambda x: (-x).cast("float"))
            )
        return df

    replicate("embeddings", 4, emb_rep)


def main() -> None:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else harness.next_round()
    curve_keys = tuple(sys.argv[2:])
    if not curve_keys:
        for name, keys in FAMILIES.items():
            print(f"=== family {name}: {' '.join(keys)} ===", flush=True)
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), str(rnd), *keys], check=True
            )
        return
    out_path = os.path.join(harness.ROOT, f"SCALE_r{rnd:02d}.json")
    sf_dirs = SF_DIRS
    if os.environ.get("SPARK_GRAFT_SF10"):
        sf_dirs = SF_DIRS_10
    spark = harness.start("scale_curve", warm_dir=SRC)
    if not os.path.exists(os.path.join(DERIVED, "embeddings.parquet")):
        print("generating derived sf1.0 ...", flush=True)
        t0 = time.time()
        gen_derived(spark)
        print(f"generated in {time.time() - t0:.0f}s", flush=True)
    if sf_dirs is SF_DIRS_10 and not os.path.exists(
        os.path.join(DERIVED10, "embeddings.parquet")
    ):
        print("generating derived sf10 ...", flush=True)
        t0 = time.time()
        gen_derived(spark, DERIVED10, FACTOR * 10)
        print(f"generated in {time.time() - t0:.0f}s", flush=True)
    queries = harness.entrymod.queries()

    samples: dict[str, dict[str, list[float]]] = {
        k: {sf: [] for sf, _ in sf_dirs} for k in curve_keys
    }
    for rep in range(REPS):
        for sf, sf_dir in sf_dirs:
            for key in curve_keys:
                sec = harness.time_noop(lambda: queries[key](spark, sf_dir))
                samples[key][sf].append(sec)
                print(f"rep{rep} sf{sf} {key}: {sec}s", flush=True)
            # cold-start each (rep, sf) cell like bench: shared
            # persists released so every cell measures the same work
            harness.release(spark)

    curves = {}
    for key in curve_keys:
        m = {sf: harness.median(samples[key][sf]) for sf, _ in sf_dirs}
        curves[key] = {
            "median_sec": m,
            "samples": samples[key],
            # per-decade growth: wall ratio per 10x rows; 1.0 = flat
            # (fixed overhead dominates), 10.0 = linear in rows
            "ratio_001_to_01": round(m["0.1"] / m["0.01"], 2),
            "ratio_01_to_10": round(m["1.0"] / m["0.1"], 2),
        }
        if "10" in m:
            curves[key]["ratio_10_to_100"] = round(m["10"] / m["1.0"], 2)
    payload = {
        "derived_dir": DERIVED,
        "factor": FACTOR,
        "reps": REPS,
        "curves": curves,
    }
    if os.path.exists(out_path):
        prior = json.load(open(out_path))
        merged = prior.get("curves", {})
        merged.update(curves)
        # carry forward the non-curve sections earlier rounds recorded
        # (stage_timings, vault_ingest_ab) instead of dropping them
        for k, v in prior.items():
            if k not in payload:
                payload[k] = v
        payload["curves"] = merged
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "artifact": os.path.basename(out_path),
                "keys": len(curves),
                "worst_last_decade_ratio": max(
                    c["ratio_01_to_10"] for c in curves.values()
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
