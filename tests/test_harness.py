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


def test_capture_mask_is_blind_to_session_numbering():
    """Two sessions print the same distinct-aggregate plan with other
    expression ids, lambda suffixes and ``gid`` numbering: the rewrite
    orders its groups by a hash of the session's expression ids, which
    permutes the Expand columns and renumbers the groups. The mask
    prints both alike, and still tells a plan apart whose aggregate
    reads another group."""
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
