"""The root scripts' shared plumbing (``harness.py``): artifact round
numbering, the one release every timing pass relies on, the strict
oracle gate, and that every script still imports against it."""

from __future__ import annotations

import importlib
import re

import harness
from tests.conftest import SF_SMOKE
from tests.oracle_harness import duckdb_con

SCRIPTS = ("bench", "time_keys", "sweep", "scale_curve", "capture_plans")

# the single-JVM curve set and the last per-round batch script the
# FAMILIES table replaced
OLD_CURVE_KEYS = (
    "etl_star_flagship",
    "graph_copurchase_edges",
    "graph_oriented_adjacency",
    "graph_triangle_count",
    "graph_pagerank_ladder",
    "graph_hits_ladder",
    "graph_louvain_ladder",
    "ann_ivf_pinned_topk",
    "ann_pq_pinned_topk",
    "ann_ivfpq_pinned_topk",
    "dedup_minhash_lsh",
    "semdedup_pairs",
    "dedup_semantic_semdedup",
    "events_exp_smoothing",
    "events_holt_trend",
)
R14_BATCH_KEYS = (
    "graph_copurchase_edges graph_oriented_adjacency graph_triangle_count "
    "graph_clustering_coeff graph_kcore graph_copurchase_supported graph_ktruss "
    "graph_purchase_edges graph_pagerank_ladder graph_hits_ladder "
    "basket_pair_counts market_basket_rules item_similarity_cf "
    "graph_label_propagation graph_modularity graph_louvain_move graph_louvain_ladder "
    "etl_profile_table etl_profile_table_approx stream_data_vault_ingest"
).split()


def test_next_round_skips_suffixed_artifacts(tmp_path):
    for name in ("SCALE_r09.json", "SWEEP_r14.json", "BENCH_r14_c8.json"):
        (tmp_path / name).write_text("{}")
    assert harness.next_round(str(tmp_path)) == 15


def test_scripts_import_and_families_cover_old_batches():
    for name in SCRIPTS:
        assert callable(importlib.import_module(name).main), name
    scale_curve = importlib.import_module("scale_curve")
    keys = [k for fam in scale_curve.FAMILIES.values() for k in fam]
    assert len(keys) == len(set(keys)), "a key is in two families"
    assert set(keys) <= set(harness.entrymod.queries())
    assert set(OLD_CURVE_KEYS) | set(R14_BATCH_KEYS) <= set(keys)


def test_release_empties_every_memo(spark):
    from proceso_de_etl_spark import cachereg
    from proceso_de_etl_spark.operators import dedup, ml

    held = [
        *ml.oriented_adjacency(spark, SF_SMOKE),
        ml.purchase_edges(spark, SF_SMOKE),
        dedup._doc_shingles(spark, SF_SMOKE),
        cachereg.memo(spark, "test_harness_release", SF_SMOKE, lambda: spark.range(3)),
    ]
    assert all(df.storageLevel.useMemory or df.storageLevel.useDisk for df in held)

    harness.release(spark)

    for memo in (
        cachereg._CACHE,
        dedup._SHINGLE_CACHE,
        ml._EDGE_CACHE,
        ml._PURCHASE_EDGE_CACHE,
        ml._ORIENTED_CACHE,
        ml._LPA_CACHE,
        ml._LSH_BROADCASTS,
    ):
        assert not memo
    for df in held:
        assert not df.storageLevel.useMemory and not df.storageLevel.useDisk


def test_oracle_check_pass_mismatch_and_error(spark):
    con = duckdb_con(SF_SMOKE)
    key = "q6_forecast_revenue"

    row = harness.check(spark, con, SF_SMOKE, key)
    assert harness.passed(row) and row["err"] is None, row

    wrong = f"SELECT * FROM ({harness.entrymod.oracle_sql()[key]}) LIMIT 0"
    row = harness.check(spark, con, SF_SMOKE, key, wrong)
    assert row["rows_match"] is False and row["oracle_rows"] == 0, row
    assert not harness.passed(row) and row["err"] is None

    row = harness.check(spark, con, SF_SMOKE, "no_such_key")
    assert not harness.passed(row)
    assert re.search(r"KeyError: 'no_such_key'", row["err"]), row["err"]

    # a key with no oracle fails before it is built: no Spark job runs
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    try:
        sc.setJobGroup("check_with_oracle", "q6")
        assert harness.passed(harness.check(spark, con, SF_SMOKE, key))
        sc.setJobGroup("check_without_oracle", "graph_louvain_fixpoint")
        row = harness.check(spark, con, SF_SMOKE, "graph_louvain_fixpoint")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not harness.passed(row) and row["spark_rows"] is None
    assert "no oracle for graph_louvain_fixpoint" in row["err"], row["err"]
    assert tracker.getJobIdsForGroup("check_with_oracle")
    assert tracker.getJobIdsForGroup("check_without_oracle") == []


def test_capture_mask_is_blind_to_session_numbering():
    """Two sessions print the same distinct-aggregate plan with other
    expression ids, lambda suffixes and ``gid`` numbering: the rewrite
    orders its groups by a hash of the session's expression ids, which
    permutes the Expand columns and renumbers the groups. The mask
    prints both alike, and still tells a plan apart whose aggregate
    reads another group. Likewise for other RDD ids, other ``mkdtemp``
    directories and, for a memoized frame, another cached plan (the AQE
    final plan once the cache is materialized, the initial plan
    before): the mask prints each pair alike, renumbers a formatted
    plan's operators without the cached plan's, and still tells apart
    plans that read other data or another cached frame."""
    import tempfile

    from capture_plans import mask

    one = (
        "Aggregate [k#1], [k#1, count(a#2) FILTER (WHERE (gid#9 = 1)) AS na#10, "
        "count(b#3) FILTER (WHERE (gid#9 = 2)) AS nb#11]\n"
        "+- Aggregate [k#1, a#12, b#13, gid#9], [k#1, a#12, b#13, gid#9]\n"
        "   +- Expand [[k#1, a#2, null, 1], [k#1, null, b#3, 2]], [k#1, a#12, b#13, gid#9]\n"
        "      +- Project [k#1, a#2, b#3, filter(t#4, lambdafunction(NOT (lambda x_870# = ), "
        "lambda x_870#, false)) AS w#5]\n"
    )
    other = (
        "Aggregate [k#5], [k#5, count(a#6) FILTER (WHERE (gid#20 = 2)) AS na#21, "
        "count(b#7) FILTER (WHERE (gid#20 = 1)) AS nb#22]\n"
        "+- Aggregate [k#5, b#24, a#23, gid#20], [k#5, b#24, a#23, gid#20]\n"
        "   +- Expand [[k#5, b#7, null, 1], [k#5, null, a#6, 2]], [k#5, b#24, a#23, gid#20]\n"
        "      +- Project [k#5, a#6, b#7, filter(t#8, lambdafunction(NOT (lambda x_123# = ), "
        "lambda x_123#, false)) AS w#9]\n"
    )
    assert mask(one) == mask(other)
    assert "Expand [[a#, null, 0, k#], [null, b#, 1, k#]], [a#, b#, gid#, k#]" in mask(one)
    crossed = other.replace("gid#20 = 2)) AS na", "gid#20 = 1)) AS na")
    assert mask(crossed) != mask(one)

    # RDD ids, mkdtemp directories and cached plans
    tmp = tempfile.gettempdir()
    # A materialized cache prints its AQE final plan below its
    # InMemoryRelation, and a cache nested in that plan prints its
    # blocks at an indent that ignores the enclosing tree, here left of
    # the outer InMemoryRelation (which sits under 7 Projects).
    def sp(k):
        return "   " * k

    cached_final = (
        f"{sp(7)}:     +- AdaptiveSparkPlan isFinalPlan=true\n"
        f"{sp(10)}+- == Final Plan ==\n"
        f"{sp(11)}ResultQueryStage 1\n"
        f"{sp(11)}+- *(2) HashAggregate(keys=[k#1L], functions=[sum(v#3L)])\n"
        f"{sp(11)}   +- ShuffleQueryStage 0\n"
        f"{sp(11)}      :- InMemoryTableScan [k#1L, v#3L]\n"
        f"{sp(11)}      :     +- InMemoryRelation [k#1L, v#3L], StorageLevel(memory)\n"
        f"{sp(11)}      :           +- AdaptiveSparkPlan isFinalPlan=true\n"
        f"{sp(5)}+- == Final Plan ==\n"
        f"{sp(6)}*(1) Range (0, 100, step=1, splits=2)\n"
        f"{sp(11)}      +- Exchange hashpartitioning(k#1L, 2), [plan_id=63]\n"
        f"{sp(10)}+- == Initial Plan ==\n"
        f"{sp(11)}HashAggregate(keys=[k#1L], functions=[sum(v#3L)])\n"
    )
    cached_initial = (
        f"{sp(7)}:     +- AdaptiveSparkPlan isFinalPlan=false\n"
        f"{sp(7)}:        +- HashAggregate(keys=[k#7L], functions=[sum(v#8L)])\n"
    )

    def logical(n, cached, path, rdd):
        return (
            "Project [k#0L]\n"
            + "".join(f"{sp(i)}+- Project [k#0L]\n" for i in range(6))
            + f"{sp(6)}+- Join Inner, (k#{n}L = k#{n + 1}L)\n"
            f"{sp(7)}:- InMemoryRelation [k#{n}L], StorageLevel(disk, memory, deserialized, 1 replicas)\n"
            f"{cached}"
            f"{sp(7)}+- Filter isnotnull(k#{n + 1}L)\n"
            f"{sp(8)}+- LogicalRDD [k#{n + 1}L], false\n"
            "\n"
            f"Location: InMemoryFileIndex [file:{tmp}/stream_cdc_{path}/log]\n"
            f"Location: InMemoryFileIndex [file:{tmp}/tt_{path}/_versions/t/{rdd:016x}]\n"
            f"Arguments: [k#{n}L], MapPartitionsRDD[{rdd}] at localCheckpoint at {path}:0\n"
        )

    run1 = logical(1, cached_final, "ab_12xyz", 887)
    run2 = logical(40, cached_initial, "q9_zz0k1", 16)
    assert mask(run1) == mask(run2)
    assert f"file:{tmp}/stream_cdc_#/log" in mask(run1)
    assert f"file:{tmp}/tt_#/_versions/t/#]" in mask(run1)
    assert "MapPartitionsRDD[#] at localCheckpoint at #" in mask(run1)
    assert "AdaptiveSparkPlan" not in mask(run1)
    assert mask(run1.replace("/log]", "/landing]")) != mask(run1)
    assert f"{sp(7)}+- Filter isnotnull(k#)\n{sp(8)}+- LogicalRDD [k#], false\n" in mask(run1)
    assert mask(run1.replace("InMemoryRelation [k#1L]", "InMemoryRelation [v#1L]")) != mask(run1)

    def formatted(cached_ids):
        tree = "".join(f"            +- Op ({i})\n" for i in cached_ids)
        details = "".join(f"({i}) Op\nArguments: cached\n\n" for i in cached_ids)
        last = cached_ids[-1] + 1  # the Filter
        return (
            "== Physical Plan ==\n"
            f"Filter ({last})\n"
            "+- InMemoryTableScan (1)\n"
            f"      +- InMemoryRelation (2)\n{tree}\n\n"
            "(1) InMemoryTableScan\nOutput [1]: [k#5L]\n\n"
            "(2) InMemoryRelation\nArguments: [k#5L], StorageLevel(memory)\n\n"
            f"{details}"
            f"({last}) Filter\nCondition : isnotnull(k#5L)\n"
        )

    final, initial = formatted([3, 4, 5, 6]), formatted([3])
    assert mask(final) == mask(initial)
    assert "Filter (3)" in mask(final) and "(3) Filter" in mask(final)
    assert "Arguments: cached" not in mask(final)
