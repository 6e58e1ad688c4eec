"""Alternate-parameter variants of the twelve TPC-H families (q1, q3,
q4, q5, q6, q9, q10, q12, q14, q17, q18, q19): proof the plans are
not constant-specific.

TPC-H defines each query as a TEMPLATE with substitution parameters.
Each family is declared once, in plans/tpch.py or plans/tpch_ext.py:
one builder taking a parameter dict ``p`` and one oracle template
``q<n>_sql(p)``, both defaulting to the family's ``Q<n>_BASE``. This
module holds only the second dict per family and its registration:
the ``_v2`` key is the family builder bound to that dict and its
oracle is the family template rendered from the same dict, so base
and variant are one builder and one oracle template, and plan and
oracle can never drift apart. Variant parameters were validated
against the actual testdata domains (c_mktsegment enum, r_name enum,
orderdate 1995-01-01..2001-08-01, shipdate ..2001-11-04, discount
0..0.1, quantity 1..50) — see tests/test_tpch_params.py, which also
asserts each variant's filters are genuinely selective (non-empty,
and a proper subset where the family filters a scan) and that each
variant returns its family's columns.

Scale notes are the family's (see plans/tpch.py docstring): only
fixed-size dims carry broadcast hints; filters sit on scan columns
so they push into the parquet reader regardless of the constant.
"""

from __future__ import annotations

from proceso_de_etl_spark.plans import tpch, tpch_ext


def _bind(family, p: dict):
    """``family`` at parameters ``p`` as a (spark, sf_dir) key. A plain
    function, not ``functools.partial``, so ``__module__`` (which
    per-layer timings read) names this module like any other key."""
    return lambda spark, sf_dir: family(spark, sf_dir, p)


# q1 at the TPC-H spec's own canonical ship cutoff instead of the
# family's 2001-09-01: ~half the scan selected.
Q1_PARAMS = {"ship_cutoff": "1998-09-02"}

Q3_PARAMS = {"segment": "MACHINERY", "cutoff": "1996-09-15"}

# lateness at 90 days instead of the family's 60: this testdata has no
# commit/receipt dates, so the spec's l_commitdate < l_receiptdate
# substitution is out of domain
Q4_PARAMS = {"start": "1997-03-01", "end": "1997-09-01", "late_days": 90}

Q5_PARAMS = {"region": "EUROPE", "year_start": "1997-01-01", "year_end": "1998-01-01"}

Q6_PARAMS = {
    "year_start": "1998-01-01",
    "year_end": "1999-01-01",
    "disc_lo": 0.05,
    "disc_hi": 0.09,
    "qty_max": 35,
}

Q9_PARAMS = {"part_word": "gear", "cost_rate": 0.55}

Q10_PARAMS = {"quarter_start": "1997-01-01", "quarter_end": "1997-04-01"}

# a STRICTER high class: only 1-URGENT counts as high (the class rule
# is a parameter, not a constant)
Q12_PARAMS = {"year_lo": "1997-01-01", "year_hi": "1998-01-01", "high_prefixes": ("1",)}

Q14_PARAMS = {"month_start": "1997-05-01", "month_end": "1997-06-01"}

# another brand proves q17's left-semi prune isn't keyed to one
# partkey set
Q17_PARAMS = {"brand": "Brand#45", "factor": 0.25}

# a higher threshold that bites before the top-100 cap
Q18_PARAMS = {"qty_threshold": 140}

# three OTHER (brand, size, quantity) bands: band count and shape are
# data, still one scan-side codegen'd residual filter
Q19_PARAMS = {
    "bands": (
        {"brand": "Brand#13", "size_hi": 20, "qty_lo": 5, "qty_hi": 15},
        {"brand": "Brand#34", "size_hi": 30, "qty_lo": 15, "qty_hi": 25},
        {"brand": "Brand#45", "size_hi": 40, "qty_lo": 25, "qty_hi": 35},
    )
}

q1_pricing_summary_v2 = _bind(tpch.q1_pricing_summary, Q1_PARAMS)
q3_shipping_priority_v2 = _bind(tpch.q3_shipping_priority, Q3_PARAMS)
q4_order_priority_v2 = _bind(tpch.q4_order_priority, Q4_PARAMS)
q5_local_supplier_v2 = _bind(tpch.q5_local_supplier, Q5_PARAMS)
q6_forecast_revenue_v2 = _bind(tpch.q6_forecast_revenue, Q6_PARAMS)
q9_product_profit_v2 = _bind(tpch_ext.q9_product_profit, Q9_PARAMS)
q10_returned_items_v2 = _bind(tpch.q10_returned_items, Q10_PARAMS)
q12_priority_classes_v2 = _bind(tpch_ext.q12_priority_classes, Q12_PARAMS)
q14_promo_effect_v2 = _bind(tpch.q14_promo_effect, Q14_PARAMS)
q17_small_qty_revenue_v2 = _bind(tpch.q17_small_qty_revenue, Q17_PARAMS)
q18_large_orders_v2 = _bind(tpch.q18_large_orders, Q18_PARAMS)
q19_disjunctive_filter_v2 = _bind(tpch_ext.q19_disjunctive_filter, Q19_PARAMS)

QUERIES = {
    "q1_pricing_summary_v2": q1_pricing_summary_v2,
    "q4_order_priority_v2": q4_order_priority_v2,
    "q17_small_qty_revenue_v2": q17_small_qty_revenue_v2,
    "q12_priority_classes_v2": q12_priority_classes_v2,
    "q19_disjunctive_filter_v2": q19_disjunctive_filter_v2,
    "q9_product_profit_v2": q9_product_profit_v2,
    "q10_returned_items_v2": q10_returned_items_v2,
    "q18_large_orders_v2": q18_large_orders_v2,
    "q3_shipping_priority_v2": q3_shipping_priority_v2,
    "q5_local_supplier_v2": q5_local_supplier_v2,
    "q6_forecast_revenue_v2": q6_forecast_revenue_v2,
    "q14_promo_effect_v2": q14_promo_effect_v2,
}

ORACLES = {
    "q1_pricing_summary_v2": tpch.q1_sql(Q1_PARAMS),
    "q3_shipping_priority_v2": tpch.q3_sql(Q3_PARAMS),
    "q5_local_supplier_v2": tpch.q5_sql(Q5_PARAMS),
    "q6_forecast_revenue_v2": tpch.q6_sql(Q6_PARAMS),
    "q14_promo_effect_v2": tpch.q14_sql(Q14_PARAMS),
    "q10_returned_items_v2": tpch.q10_sql(Q10_PARAMS),
    "q18_large_orders_v2": tpch.q18_sql(Q18_PARAMS),
    "q9_product_profit_v2": tpch_ext.q9_sql(Q9_PARAMS),
    "q12_priority_classes_v2": tpch_ext.q12_sql(Q12_PARAMS),
    "q19_disjunctive_filter_v2": tpch_ext.q19_sql(Q19_PARAMS),
    "q4_order_priority_v2": tpch.q4_sql(Q4_PARAMS),
    "q17_small_qty_revenue_v2": tpch.q17_sql(Q17_PARAMS),
}
