"""Parameterized q-suite variants: oracle parity at sf0.001 plus
non-vacuity — each variant's parameters must actually select data
(and, where the family filters a scan, a PROPER subset), so a
nonexistent enum value or out-of-domain date can't pass vacuously."""

from pyspark.sql import functions as F

from proceso_de_etl_spark.plans import tpch_params
from proceso_de_etl_spark.sources.catalog import load_table
from tests.oracle_harness import compare, duckdb_con

SF_SMOKE = "/root/testdata/sf0.001"


def test_variants_match_oracles(spark):
    con = duckdb_con(SF_SMOKE)
    for key, fn in tpch_params.QUERIES.items():
        compare(fn(spark, SF_SMOKE), con, tpch_params.ORACLES[key], key)


def test_variants_keep_family_schema(spark):
    """A variant is its family at other parameters, so it returns the
    family's columns: same names, same types, in the same order."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    assert len(tpch_params.QUERIES) == 12
    for key, fn in tpch_params.QUERIES.items():
        base = queries[key.removesuffix("_v2")](spark, SF_SMOKE).schema
        variant = fn(spark, SF_SMOKE).schema
        assert [(f.name, f.dataType) for f in variant] == [
            (f.name, f.dataType) for f in base
        ], key


def test_parameters_are_not_vacuous(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    cust = load_table(spark, SF_SMOKE, "customer")
    total_li = li.count()

    n_seg = cust.filter(F.col("c_mktsegment") == tpch_params.Q3_PARAMS["segment"]).count()
    assert 0 < n_seg < cust.count()

    p = tpch_params.Q6_PARAMS
    n_q6 = li.filter(
        (F.col("l_shipdate") >= F.expr(f"TIMESTAMP '{p['year_start']} 00:00:00'"))
        & (F.col("l_shipdate") < F.expr(f"TIMESTAMP '{p['year_end']} 00:00:00'"))
        & (F.col("l_discount").between(p["disc_lo"], p["disc_hi"]))
        & (F.col("l_quantity") < p["qty_max"])
    ).count()
    assert 0 < n_q6 < total_li

    # every variant returns rows (top-N families return their full N)
    assert tpch_params.q1_pricing_summary_v2(spark, SF_SMOKE).count() > 0
    assert tpch_params.q3_shipping_priority_v2(spark, SF_SMOKE).count() == 10
    assert tpch_params.q5_local_supplier_v2(spark, SF_SMOKE).count() > 0
    row = tpch_params.q14_promo_effect_v2(spark, SF_SMOKE).collect()[0]
    assert row.promo_revenue_pct is not None and 0.0 < row.promo_revenue_pct < 100.0
    assert tpch_params.q10_returned_items_v2(spark, SF_SMOKE).count() == 20
    assert tpch_params.q18_large_orders_v2(spark, SF_SMOKE).count() > 0
    # the higher threshold must bite BEFORE the top-100 cap: strictly
    # fewer qualifying orders than the family's > 130 instantiation
    big = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("sum_qty"))
    n_130 = big.filter(F.col("sum_qty") > 130).count()
    n_v2 = big.filter(F.col("sum_qty") > tpch_params.Q18_PARAMS["qty_threshold"]).count()
    assert 0 < n_v2 < n_130


def test_variant_plans_keep_family_invariants(spark):
    """The plan properties asserted for the original constants must
    hold for the variants too — otherwise the 'plans are not
    constant-specific' claim is only about values, not execution."""
    from tests.test_plans import _SCALING_MARKERS, _iter_plan_nodes, plan_of

    # q6_v2: all three predicates still push into the parquet scan,
    # untouched columns still pruned
    plan = plan_of(tpch_params.q6_forecast_revenue_v2(spark, SF_SMOKE))
    pushed = plan.split("PushedFilters")[1][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed in q6_v2"
    read_schema = plan.split("ReadSchema:")[1][:400]
    assert "l_returnflag" not in read_schema

    # q9_v2: the alternate part word still pushes to the parquet scan
    plan = plan_of(tpch_params.q9_product_profit_v2(spark, SF_SMOKE))
    assert "StringContains(p_name,gear)" in plan, plan.split("PushedFilters")[1][:300]

    # q3_v2/q5_v2/q14_v2: with auto-broadcast off, no hinted broadcast
    # subtree may contain an SF-scaling table
    saved_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    saved_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for name in ("q3_shipping_priority_v2", "q5_local_supplier_v2", "q14_promo_effect_v2"):
            root = tpch_params.QUERIES[name](spark, SF_SMOKE)._jdf.queryExecution().executedPlan()
            for node in _iter_plan_nodes(root):
                if "BroadcastExchange" not in node.nodeName():
                    continue
                subtree = node.toString()
                for marker in _SCALING_MARKERS:
                    assert marker not in subtree, (
                        f"{name}: forced broadcast of an SF-scaling table ({marker})"
                    )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", saved_aqe)
