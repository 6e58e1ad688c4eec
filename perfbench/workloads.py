"""The benchmark's workloads: which ``queries()`` keys run, in which
order, on which generated tier, and why.

Every workload is a closed loop with one caller: each key is called
only after the previous key's result has been written to its sink.

A run is a fresh JVM, its set-up and one timed pass, and the benchmark
makes seventy runs in a fixed time budget, so each workload runs the
part of its key family that fits fifteen to twenty seconds of pass. Every
layer a workload is meant to stress keeps at least one key; README.md
lists what was left out.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    tier: str
    keys: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="star_etl_load",
            tier="sf0.001",
            keys=(
                # the reference pipeline: E1, E3, E5 and all of it (E11)
                "etl_extract_conform",
                "etl_dedup_keep_first",
                "etl_fk_map",
                "etl_star_flagship",
                # the writing keys
                "etl_partition_prune",  # sources.io.write_parquet, partitioned
                "etl_atomic_write",  # sources.atomic: AtomicBatchWriter under atomic_write_tables
                "etl_scd2_merge",  # operators.scd
                "stream_cdc_apply",  # streaming micro-batches
            ),
            why="the reference star-schema load: the only workload that writes "
            "(sources.io, sources.atomic) and runs micro-batches (streaming)",
        ),
        Workload(
            name="bi_star_queries_sf1",
            tier="x100",
            keys=(
                "q1_pricing_summary",  # scan and aggregate
                "q3_shipping_priority",  # three-way join, top-k
                "q5_local_supplier",  # six-way join
                "q9_product_profit",  # six-way join behind a LIKE filter
                "q13_customer_distribution",  # outer join, two aggregations
                "q18_large_orders",  # semi-join on an aggregate
                "q21_waiting_supplier",  # exists / not exists
            ),
            why="read-only TPC-H-shaped star queries on the 100x tier: execution-bound, "
            "so scan, shuffle and aggregation changes show here",
        ),
        Workload(
            name="iterative_analytics",
            tier="sf0.001",
            keys=(
                # in this order, so each shared build is paid by its own entry
                "graph_oriented_adjacency",  # fills ml._EDGE_CACHE and ml._ORIENTED_CACHE
                "graph_triangle_count",  # hits ml._ORIENTED_CACHE
                "graph_label_propagation",  # ml._LPA_CACHE; a job per ladder round
                "dedup_minhash_lsh",  # dedup._SHINGLE_CACHE
            ),
            why="build-bound graph and dedup ladders: the only workload that "
            "leans on the module memo dicts",
        ),
    )
}

# the untimed query that ends set-up
WARMUP_KEY = "q6_forecast_revenue"
