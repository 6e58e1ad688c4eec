"""Physical-plan assertions (SURVEY.md §4): the plans must stay the
plans we designed — pushdown reaching parquet, dims broadcast, no
accidental row-at-a-time Python in JVM-able paths.
"""

import pytest

import __spark_entry__ as entrymod
from proceso_de_etl_spark.plans import tpch
from tests.conftest import SF_CORRECT


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q6_filters_pushed_to_scan(spark):
    df = tpch.q6_forecast_revenue(spark, SF_CORRECT)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in plan.split("PushedFilters")[1][:400], f"{col} not pushed"


def test_q6_column_pruning(spark):
    df = tpch.q6_forecast_revenue(spark, SF_CORRECT)
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema:")[1][:400]
    assert "l_extendedprice" in read_schema
    # pruned: columns the query never touches must not be scanned
    for col in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert col not in read_schema, f"{col} should be pruned from scan"


def test_q5_dimensions_broadcast(spark):
    # at bench SF the auto-threshold broadcasts every small side even
    # without hints — the local plan keeps all four broadcast joins
    plan = plan_of(tpch.q5_local_supplier(spark, SF_CORRECT))
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]


def _iter_plan_nodes(node):
    yield node
    for i in range(node.children().length()):
        yield from _iter_plan_nodes(node.children().apply(i))


# column markers that identify a scan of an SF-scaling table inside a
# broadcast subtree (region/nation/enum dims are the only tables small
# at every SF; everything else must never be FORCE-broadcast)
_SCALING_MARKERS = ("c_custkey", "s_suppkey", "p_partkey", "l_orderkey", "o_orderkey")


def test_no_forced_broadcast_of_scaling_tables(spark):
    """With the auto-broadcast threshold disabled, the only broadcast
    subtrees left are the EXPLICIT hints — none may contain an
    SF-scaling table (customer/supplier/part/orders/lineitem), or the
    plan would OOM at 100 TB where those tables are TBs."""
    from proceso_de_etl_spark.operators import etl, events, text_analysis
    from proceso_de_etl_spark.plans import tpch_ext

    checked = {
        "q3": tpch.q3_shipping_priority,
        "q5": tpch.q5_local_supplier,
        "q7": tpch.q7_volume_shipping,
        "q10": tpch.q10_returned_items,
        "q14": tpch.q14_promo_effect,
        "q17": tpch.q17_small_qty_revenue,
        "q18": tpch.q18_large_orders,
        "q22": tpch.q22_global_sales,
        "q2": tpch_ext.q2_min_cost_supplier,
        "q8": tpch_ext.q8_market_share,
        "q16": tpch_ext.q16_parts_supplier_cnt,
        "q19": tpch_ext.q19_disjunctive_filter,
        "q21": tpch_ext.q21_waiting_supplier,
        "flagship": etl.etl_star_flagship,
        "retention": events.events_retention_cohorts,
        "tfidf": text_analysis.text_tfidf_topterms,
    }
    saved_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    saved_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        hinted_broadcasts = 0
        for name, fn in checked.items():
            root = fn(spark, SF_CORRECT)._jdf.queryExecution().executedPlan()
            for node in _iter_plan_nodes(root):
                if "BroadcastExchange" not in node.nodeName():
                    continue
                hinted_broadcasts += 1
                subtree = node.toString()
                for marker in _SCALING_MARKERS:
                    assert marker not in subtree, (
                        f"{name}: forced broadcast of an SF-scaling table "
                        f"(marker {marker}):\n{subtree[:1500]}"
                    )
        # the fixed-size-dim hints must still be there (q5 nation+region,
        # q7 two nations, q22 scalar aggregate, flagship enum dims, ...)
        assert hinted_broadcasts >= 8, hinted_broadcasts
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", saved_aqe)


def test_q3_q5_adaptive_broadcasts_small_sides(spark):
    """The session pins spark.sql.adaptive.autoBroadcastJoinThreshold
    (VERDICT r3 #3): runtime SMJ→BHJ conversion must engage
    deterministically below the 64m bound — so at test/bench SF the
    FINAL adaptive plans for q3/q5 broadcast the customer side — and
    stay sort-merge above it (customer at 100 TB), without any static
    hint on an SF-scaling table."""
    assert spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold") == "64m"
    for name, fn in (("q3", tpch.q3_shipping_priority), ("q5", tpch.q5_local_supplier)):
        df = fn(spark, SF_CORRECT)
        df.collect()
        final = plan_of(df)
        assert "isFinalPlan=true" in final, name
        bhj_lines = [ln for ln in final.splitlines() if "BroadcastHashJoin" in ln]
        assert any("c_custkey" in ln for ln in bhj_lines), (
            f"{name}: customer join not broadcast in final adaptive plan:\n"
            + "\n".join(bhj_lines)
        )


_BLOOM_CONFS = (
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
)


def test_bloom_filter_prunes_semi_join_probe(spark):
    """Runtime bloom-filter join pruning (VERDICT r3 #7): the
    selective creation side of q4/q20 must inject a bloom that reaches
    the probe side's scan. The session enables the rule; its default
    size gates (creation ≤ 10 MB, probe scan ≥ 10 GB) engage exactly
    in the 100 TB regime where the probe is a shuffle join — so the
    test lowers the gates and disables broadcast (as the joins would
    be at scale) to assert the plan shape on test data. q21 is
    exempt by construction: its window-over-fact shape has no
    selective creation-side filter, so there is nothing to build a
    bloom from."""
    from proceso_de_etl_spark.plans import tpch_ext

    saved = {k: spark.conf.get(k) for k in _BLOOM_CONFS}
    try:
        spark.conf.set(_BLOOM_CONFS[0], "0")
        spark.conf.set(_BLOOM_CONFS[1], "1g")
        spark.conf.set(_BLOOM_CONFS[2], "-1")
        spark.conf.set(_BLOOM_CONFS[3], "-1")
        for name, fn in (
            ("q4", tpch.q4_order_priority),
            ("q20", tpch_ext.q20_excess_shippers),
        ):
            opt = optimized_of(fn(spark, SF_CORRECT))
            assert "bloom_filter_agg" in opt and "might_contain" in opt, (
                f"{name}: no runtime bloom filter injected:\n{opt[:1500]}"
            )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_q1_partial_aggregation_and_codegen(spark):
    df = tpch.q1_pricing_summary(spark, SF_CORRECT)
    plan = plan_of(df)
    # map-side combine: the shuffle carries ≤|groups| rows per task
    assert "partial_sum" in plan
    # codegen markers (the "*(n)" stage prefix) only appear in the
    # final adaptive plan, after execution
    df.collect()
    final = plan_of(df)
    assert "isFinalPlan=true" in final and "*(" in final


@pytest.fixture(scope="module")
def all_plans(spark):
    """One executed-plan string per registered batch query, built ONCE
    per test module: several sweeps below read every plan, and
    building a plan requires CALLING the query builder — which for
    the iterative operators (k-means, PageRank, BPE training,
    connected components, WAP publishes) executes their eager driver
    loops. Sharing the cache keeps the sweep cost at one pass
    regardless of how many sweep assertions exist. Streaming keys are
    excluded: their batch twins carry the plan checks."""
    streaming = {n for n in entrymod.queries() if n.startswith("stream_")}
    plans: dict[str, str] = {}
    unpartitioned_windows: dict[str, bool] = {}
    for name, fn in entrymod.queries().items():
        if name in streaming:
            continue
        root = fn(spark, SF_CORRECT)._jdf.queryExecution().executedPlan()
        plans[name] = root.toString()
        found = False
        stack = [root]
        while stack:
            node = stack.pop()
            if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
                found = True
                break
            for i in range(node.children().size()):
                stack.append(node.children().apply(i))
        unpartitioned_windows[name] = found
    return {"plans": plans, "unpartitioned_windows": unpartitioned_windows}


def test_no_python_udf_in_jvm_paths(all_plans):
    """Every query except the explicitly-Arrow ones must compile to a
    pure JVM plan: no BatchEvalPython (row-at-a-time Python)."""
    arrow_ok = {
        "multimodal_features",
        "multimodal_frame_sample",
        "multimodal_audio_energy",
        "multimodal_image_resize",
        "multimodal_phash_dedup",
        "multimodal_scene_cuts",
    }
    # T65 is the DELIBERATE Python-UDTF API demo (its docstring states
    # the perf envelope); it must plan exactly a UDTF eval node, and
    # nothing else may plan ANY BatchEvalPython* stage.
    udtf_ok = {"text_chunk_udtf"}
    for name, plan in all_plans["plans"].items():
        if name in udtf_ok:
            assert "BatchEvalPythonUDTF" in plan, f"{name} lost its UDTF stage"
            continue
        assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time Python"
        if name not in arrow_ok:
            assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, (
                f"{name} unexpectedly uses a Python stage"
            )


def test_no_cartesian_product_anywhere(all_plans):
    """No registered query may plan a CartesianProduct: every
    intentional non-equi join is either broadcast-of-one-row (scalar
    aggregates) or a size-bounded BroadcastNestedLoopJoin (band dims,
    the documented quadratic baselines). A CartesianProduct means an
    unintended unconstrained join slipped in."""
    for name, plan in all_plans["plans"].items():
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_no_unpartitioned_window_anywhere(all_plans):
    """Repo-wide generalization of the r4 verdict's top-k fix: NO
    registered batch query may plan a Window with an empty partition
    spec — that node moves its whole input through ONE task, the
    silent 100 TB sort-killer. Global top-k compiles to
    TakeOrderedAndProject, global ranks go through the range-
    partitioned core (A41), survivor-ranking windows carry a
    constant partition spec over k rows. Checked on the plan TREE
    (node.partitionSpec()), not the plan string, during the shared
    single sweep. Currently zero offenders; any new one must either
    restructure or earn a documented allowlist entry here."""
    offenders = [n for n, bad in all_plans["unpartitioned_windows"].items() if bad]
    assert offenders == [], offenders


def test_documents_scan_pruned_for_text_ops(spark):
    """Text operators must not drag the whole documents row through
    the scan: token counting needs doc_id+text only."""
    from proceso_de_etl_spark.operators.text_analysis import text_token_count

    plan = plan_of(text_token_count(spark, SF_CORRECT))
    read_schema = plan.split("ReadSchema:")[1][:400]
    assert "text" in read_schema
    for col in ("source", "n_chars"):
        assert col not in read_schema, f"{col} should be pruned from documents scan"


def test_semi_filter_is_semi_join(spark):
    from proceso_de_etl_spark.operators.etl import etl_semi_filter

    plan = optimized_of(etl_semi_filter(spark, SF_CORRECT))
    assert "LeftSemi" in plan


def test_incremental_is_anti_join(spark):
    from proceso_de_etl_spark.operators.etl import etl_incremental_antijoin

    plan = optimized_of(etl_incremental_antijoin(spark, SF_CORRECT))
    assert "LeftAnti" in plan


def test_aqe_splits_skewed_join_partition(spark):
    """The session claims AQE skew-join covers moderate skew
    (session.py skewJoin.enabled; relational.py's salted join is for
    the pathological tail). Evidence: a synthesized hot-key join must
    show AQEShuffleRead 'skewed' in the final adaptive plan. The
    size gates are lowered to engage on test-scale data — the
    defaults (256 MB threshold, 5x median) engage at the production
    partition sizes this emulates."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        # broadcast off: emulate two sides too big to broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8k")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")

        fact = spark.range(0, 300_000).select(
            F.when(F.col("id") % 5 != 0, 0).otherwise(F.col("id") % 100).alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        # downstream agg on a DIFFERENT key: the reshuffle frees AQE to
        # split the join's skewed partition (a same-key agg pins the
        # join's output partitioning and suppresses the split)
        df = fact.join(dim, "k").groupBy("w").agg(F.count("*").alias("n"))
        df.collect()
        plan = plan_of(df)
        assert "isFinalPlan=true" in plan
        assert "AQEShuffleRead skewed" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")


def test_topk_queries_use_take_ordered_not_global_window(spark):
    """VERDICT r4 #2: global top-k must compile to TakeOrderedAndProject
    (per-partition top-k + driver merge), never `row_number() OVER
    (ORDER BY ...)` over the full input — that window moves the whole
    corpus through ONE task. The only windows left in these plans rank
    the k survivors and must carry a partition spec (constant lit(1)
    over k rows), so WindowExec never sees a data-sized unpartitioned
    input."""
    from proceso_de_etl_spark.operators import relational, sampling, text_analysis

    saved = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        checked = {
            "weighted_aes": sampling.sample_weighted_aes,
            "vocab_topk": text_analysis.text_vocab_topk,
            "bigram_pairs": text_analysis.text_bigram_pairs,
        }
        for name, fn in checked.items():
            root = fn(spark, SF_CORRECT)._jdf.queryExecution().executedPlan()
            assert "TakeOrderedAndProject" in root.toString(), (
                f"{name}: top-k did not compile to TakeOrderedAndProject"
            )
            for node in _iter_plan_nodes(root):
                if node.nodeName() == "Window":
                    assert not node.partitionSpec().isEmpty(), (
                        f"{name}: unpartitioned (single-task) window in plan"
                    )
        # A41's total-order ranking: every window partitioned (by _pid)
        root = relational.sort_global_rank(spark, SF_CORRECT)._jdf.queryExecution().executedPlan()
        for node in _iter_plan_nodes(root):
            if node.nodeName() == "Window":
                assert not node.partitionSpec().isEmpty(), (
                    "sort_global_rank: unpartitioned window in plan"
                )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
        spark.catalog.clearCache()  # sort_global_rank pins its ranged partitioning


def test_argmax_agg_combines_map_side(spark):
    """A48's claim: max(struct(...)) per group is a partial
    aggregate — the plan must carry a partial_max below the shuffle
    (one candidate per group per task crosses the wire), which is
    what makes the agg form cheaper than a rank window at scale."""
    from proceso_de_etl_spark.operators.relational import agg_argmax_no_window

    plan = plan_of(agg_argmax_no_window(spark, SF_CORRECT))
    assert "partial_max" in plan, plan[:1500]


def test_sort_global_rank_dense_and_deterministic(spark):
    """A41's ADVICE-r4 failure mode: without the persisted range
    partitioning, the count job and rank job could sample different
    range bounds — duplicate/missing ranks and silently dropped rows.
    Pin the invariants directly: ranks are exactly the dense
    permutation 1..n over the full table, and a second run (fresh
    sampling) returns the identical result."""
    from proceso_de_etl_spark.operators import relational
    from proceso_de_etl_spark.sources.catalog import load_table

    n = load_table(spark, SF_CORRECT, "orders").count()
    a = sorted(tuple(r) for r in relational.sort_global_rank(spark, SF_CORRECT).collect())
    assert len(a) == n
    assert sorted(t[0] for t in a) == list(range(1, n + 1))
    spark.catalog.clearCache()
    b = sorted(tuple(r) for r in relational.sort_global_rank(spark, SF_CORRECT).collect())
    assert a == b
    spark.catalog.clearCache()


def test_results_invariant_to_shuffle_parallelism(spark):
    """The dsum/davg DECIMAL-accumulation design's core claim: results
    are BIT-IDENTICAL under any parallelism. Evidence: three
    value-sensitive queries (pure agg, multi-join flagship, log-prob
    scoring) re-run with shuffle.partitions=1 must equal the 32-way
    results exactly — double-accumulation designs fail this (sum
    order changes the last ulp)."""
    # round-8 extensions: the distributed prefix-sum consumers (A72
    # weighted quantiles ride sampled range partitions — the exact
    # place a parallelism dependence would hide), the rank·decimal
    # Gini fold, and the DSIR log-ratio accumulation.
    # r6 extensions: the portable-hash rewrites now feeding DRIVER
    # value oracles — minhash signatures (MIN aggregate, order-free
    # by construction, but the banded join + verify chain must stay
    # partition-invariant) and the simhash vote accumulation (integer
    # SUMs per bit — any double in that path would surface here)
    keys = (
        "q1_pricing_summary",
        "etl_star_flagship",
        "text_unigram_lm_score",
        "agg_weighted_quantiles",
        "revenue_gini_index",
        "sample_importance_dsir",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "ml_kmeans_embeddings",
        "ann_ivf_topk",
    )
    qs = entrymod.queries()
    wide = {}
    for k in keys:
        wide[k] = sorted(tuple(r) for r in qs[k](spark, SF_CORRECT).collect())
        spark.catalog.clearCache()
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        for k in keys:
            narrow = sorted(tuple(r) for r in qs[k](spark, SF_CORRECT).collect())
            assert narrow == wide[k], f"{k}: result depends on shuffle parallelism"
            spark.catalog.clearCache()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_dpp_prunes_fact_partitions(spark):
    """E20's claim: when the year filter reaches the partitioned fact
    through a JOIN (not a literal), Catalyst must insert a
    DynamicPruning subquery on the partition column — the runtime
    directory-pruning that makes BI-style dim-filtered queries cheap
    on a year-partitioned 100 TB fact."""
    from proceso_de_etl_spark.operators.etl import etl_dpp_join

    plan = plan_of(etl_dpp_join(spark, SF_CORRECT))
    part_filters = plan.split("PartitionFilters:")[1][:300]
    assert "dynamicpruning" in part_filters.lower(), part_filters


def test_q9_part_filter_pushed_to_scan(spark):
    """q9's substring part filter must reach the parquet scan as a
    StringContains pushdown — at 100 TB the difference between
    reading part once filtered vs filtering after the join."""
    from proceso_de_etl_spark.plans.tpch_ext import q9_product_profit

    plan = plan_of(q9_product_profit(spark, SF_CORRECT))
    assert "StringContains(p_name,bolt)" in plan, plan.split("PushedFilters")[1][:300]


def test_q11_threshold_shares_one_fact_scan(spark):
    """q11's per-part values and its global threshold must share one
    canonical aggregation subtree — the static planner proves it by
    reusing the exchange (one lineitem scan). AQE's stage reuse does
    not fire on this pattern (it re-plans the subtree per reference,
    like q15) — which is exactly why this invariant is pinned on the
    static plan: a refactor that breaks subtree canonical equality
    would silently double the fact reads under EVERY planner."""
    from proceso_de_etl_spark.plans.tpch_ext import q11_important_parts

    saved = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = plan_of(q11_important_parts(spark, SF_CORRECT))
        assert "ReusedExchange" in plan
        assert plan.count("FileScan") == 3  # lineitem + supplier + nation, once each
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)


def test_interval_islands_single_exchange(spark):
    """A49's design claim: the exclusive-cummax window, the island
    rollup, and the per-supplier rollup all key on l_suppkey, so the
    whole operator plans exactly ONE shuffle — Catalyst reuses the
    window's hash partitioning for both aggregations."""
    from proceso_de_etl_spark.operators.relational import interval_islands

    plan = plan_of(interval_islands(spark, SF_CORRECT))
    assert plan.count("Exchange") == 1, plan[:3000]


def test_chunking_is_shuffle_free(spark):
    """T40's design claim: chunk generation is in-array (sequence +
    slice) + explode — a pure scan-side pipeline with ZERO exchanges;
    at 100 TB the operator is scan-bound by construction."""
    from proceso_de_etl_spark.operators.text_analysis import text_chunk_documents

    plan = plan_of(text_chunk_documents(spark, SF_CORRECT))
    assert "Exchange" not in plan, plan[:3000]


def test_round7_new_ops_plan_shapes(spark):
    """Plan pins for the r7 additions: (1) T47's L2-norm window is
    partitioned by doc_id (never a data-sized single-task window);
    (2) E28 folds all five single-table checks into at most two scans
    of orders (one conditional aggregate + one RI anti-join probe);
    (3) A59's wedge/closing joins are shuffle equi-joins, not
    nested-loop — the degree-orientation keeps them key-partitioned."""
    from proceso_de_etl_spark.operators.etl import etl_expectations_report
    from proceso_de_etl_spark.operators.ml import graph_triangle_count
    from proceso_de_etl_spark.operators.text_analysis import text_hashed_tf

    root = text_hashed_tf(spark, SF_CORRECT)._jdf.queryExecution().executedPlan()
    for node in _iter_plan_nodes(root):
        if node.nodeName() == "Window":
            assert not node.partitionSpec().isEmpty(), (
                "text_hashed_tf: unpartitioned window"
            )

    plan = plan_of(etl_expectations_report(spark, SF_CORRECT))
    n_orders_scans = plan.count("orders.parquet")
    assert n_orders_scans <= 2, f"expectations re-scan orders {n_orders_scans}x"

    plan = plan_of(graph_triangle_count(spark, SF_CORRECT))
    assert "CartesianProduct" not in plan
    # compact-forward: triangles come from array_intersect over the
    # adjacency arrays — no wedge self-join may appear anywhere (a
    # SortMergeJoin with a disjunctive tie-break condition was the
    # old wedge-materializing shape)
    assert "array_intersect" in plan, "adjacency-intersection path missing"
    wedge_joins = [
        line
        for line in plan.splitlines()
        if "SortMergeJoin" in line and " OR " in line
    ]
    assert wedge_joins == [], f"wedge rows materialized: {wedge_joins[:1]}"
    spark.catalog.clearCache()


def test_graph_family_skew_posture(spark):
    """Pins the skew posture of the co-purchase graph joins (r6
    verdict item 6). Two facts, both load-bearing at 100 TB:

    1. DEGREE CAP (the operator's actual protection): after the
       (degree, id) orientation, max out-degree <= sqrt(2m) — per-edge
       intersection work is bounded even at power-law hubs. Asserted
       on the real gate data.

    2. AQE LIMIT (what the cap must therefore cover): the
       intersection join's row concentration at high IN-degree hubs is
       NOT AQE-splittable in the operator's shape, because both join
       inputs descend from the shared cached `oriented` frame and
       OptimizeSkewedJoin only matches sort-over-shuffle-stage on both
       sides. Pinned by contrast: the same hub-skewed join against an
       INDEPENDENT right side shows `AQEShuffleRead skewed`; against a
       right side derived from the same cache it does not. If this
       ever flips (Spark lifts the limitation), the cap can be
       re-examined; until then, pathological in-degree row skew is
       salting territory (relational.py), not AQE territory."""
    from pyspark.sql import functions as F

    from proceso_de_etl_spark.operators.ml import copurchase_edges

    # --- 1. degree cap on real data ---
    und = copurchase_edges(spark, SF_CORRECT)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    lower_is_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(F.when(lower_is_u, F.col("u")).otherwise(F.col("v")).alias("s"))
    )
    row = oriented.groupBy("s").count().agg(
        F.max("count").alias("max_out"), F.sum("count").alias("m")
    ).collect()[0]
    assert row.max_out <= (2 * row.m) ** 0.5, (row.max_out, row.m)

    # --- 2. AQE split posture by contrast (hub-synthetic) ---
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    hub_left = None
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8k")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")

        hub_left = (
            spark.range(0, 300_000)
            .select((F.col("id") % 2 + 10_000_000).alias("d"), F.col("id").alias("pay"))
            .persist()
        )
        hub_left.count()

        def skew_fired(right) -> bool:
            df = hub_left.join(right, hub_left.d == right.v2).agg(
                F.count("*").alias("n")
            )
            df.collect()
            return "AQEShuffleRead skewed" in plan_of(df)

        independent = spark.range(9_999_990, 10_000_100).select(
            F.col("id").alias("v2"), (F.col("id") * 3).alias("w")
        )
        assert skew_fired(independent), "independent right side must split"

        self_derived = (
            hub_left.groupBy("pay")
            .agg(F.count("*").alias("c"))
            .select(F.col("pay").alias("v2"), "c")
            .repartition("v2")
        )
        assert not skew_fired(self_derived), (
            "shared-cache lineage started AQE-splitting — revisit the "
            "triangle/k-core skew docstrings: the degree cap may no "
            "longer be the only protection"
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        ):
            spark.conf.unset(k)
        if hub_left is not None:
            hub_left.unpersist()


def test_r7_companions_stay_jvm_side(all_plans):
    """The r7 pinned-geometry and community operators must stay
    whole-stage-codegen territory: no Python UDF (the centroid
    assignment is a literal-array expression), no CartesianProduct
    (every join is keyed or an explicit tiny crossJoin of one-row
    aggregates — those plan as BroadcastNestedLoopJoin over 1 row,
    which is fine; an accidental CartesianProduct over corpus-sized
    inputs is not). Every one is a registered batch key, so its
    executed plan at SF_CORRECT is already in ``all_plans``."""
    for name in (
        "semdedup_pairs",
        "ann_ivf_pinned_topk",
        "ann_pq_pinned_topk",
        "ann_ivfpq_pinned_topk",
        "ann_ivf_incremental_pinned",
        "ann_recall_eval",
        "graph_connected_components",
        "graph_modularity",
        "graph_louvain_move",
        "graph_coarsen",
        "graph_louvain_ladder",
        "graph_louvain_fixpoint",
        "graph_pagerank_ladder",
        "graph_link_prediction",
        "graph_hits_ladder",
        "ml_kmeans_ladder",
        "sketch_kmv_setops",
        "sketch_hll_portable",
        "sketch_cms_portable",
    ):
        plan = all_plans["plans"][name]
        assert "PythonUDF" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_clustering_coeff_single_intersection(spark):
    """A109's r14 fix: the corner-attribution union used to reference
    the un-materialized inter subtree (two adjacency joins + the
    array_intersect) from BOTH branches, so the executed plan ran the
    intersection TWICE per call (measured 453 s vs triangle's
    single-execution 281 s at the derived sf10 tier). The single
    exploded struct-array form must plan exactly ONE array_intersect.
    The operator checkpoints its 20-row result, which would hide the
    real plan — disable localCheckpoint for the capture."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    from proceso_de_etl_spark.operators import ml

    orig = _CDF.localCheckpoint
    _CDF.localCheckpoint = lambda self, eager=True: self
    try:
        plan = plan_of(ml.graph_clustering_coeff(spark, SF_CORRECT))
    finally:
        _CDF.localCheckpoint = orig
    n = plan.count("array_intersect")
    assert n == 1, f"expected exactly 1 array_intersect in the plan, saw {n}"


def test_profile_approx_expand_free(spark):
    """E16b's reason to exist (r12 verdict item 6): the exact E16
    profile plans an Expand (x11 row stream) for its five
    countDistincts; the approx twin must plan NO Expand anywhere —
    the sketch aggregate is partial-mergeable and the exact-distinct
    audit pre-groups instead of expanding. If an Expand ever appears
    here the scale path silently degraded to the exact plan."""
    from proceso_de_etl_spark.operators.etl import (
        etl_profile_table,
        etl_profile_table_approx,
    )

    approx_plan = plan_of(etl_profile_table_approx(spark, SF_CORRECT))
    assert "Expand" not in approx_plan, "approx profile regressed to Expand"
    # contrast pin: the exact twin DOES Expand — if Spark ever learns
    # to plan multi-countDistinct without Expand, this pin flags that
    # the twin pair's cost rationale needs re-measuring
    exact_plan = plan_of(etl_profile_table(spark, SF_CORRECT))
    assert "Expand" in exact_plan, "exact profile no longer Expands"
