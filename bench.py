#!/usr/bin/env python3
"""Headline benchmark: engine queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Timing uses the noop sink — full plan execution (scan → shuffle →
agg) without driver-side materialization, so numbers measure the
engine, not result transfer.

Each query runs REPS passes (whole-suite round-robin, so a rep's
neighbors in time are OTHER queries — a sandbox slowdown hits reps of
every query, not all reps of one); "queries" reports per-query
MEDIANS and "query_spread" the max-min across reps. The r2→r3 rounds
showed the sandbox noise floor reaching 2× on byte-identical code
(pytest 233→497 s same day), so single-shot timings cannot feed a
regression gate; medians with a spread field can.
"""

from __future__ import annotations

import json
import os
import re

import harness

HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q14_promo_effect",
    "q18_large_orders",
    "etl_star_flagship",
    "events_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality_score",
    "q21_waiting_supplier",
    "pipeline_clean_corpus",
    "q9_product_profit",
    "text_unigram_lm_score",
    "sample_weighted_aes",
    # round-5 additions: the de-single-partitioned top-k pair and the
    # timed total-order operator
    "text_vocab_topk",
    "text_bigram_pairs",
    "sort_global_rank",
    "dedup_duplicate_spans",
    # round-6 additions (floors seeded from the r6 local run)
    "interval_islands",
    "text_gopher_quality",
    "dedup_source_overlap",
    "dedup_semantic_semdedup",
    "text_bpe_encode",
    # round-7 additions: the wedge-join graph heavy, the global-rank
    # equi-depth, and three shuffle-shaped mid-weights. r8 (judge item
    # 3): the shared copurchase_edges build+persist is now its own
    # timed entry run FIRST, so triangle/kcore measure warm-edge work
    # only instead of the first-in-family query paying the build cold
    "graph_copurchase_edges",
    # r13: the shared deg→oriented→adj build is its own timed entry
    # (r12 verdict item 3) run BEFORE triangle, so triangle/kcore
    # measure warm-adjacency work only — the same cost-attribution
    # move as graph_copurchase_edges itself
    "graph_oriented_adjacency",
    "graph_triangle_count",
    "agg_equidepth_histogram",
    "text_hashed_tf",
    "events_rolling_distinct",
    "etl_expectations_report",
    # round-8 additions: the basket self-join, the iterative peel, the
    # bigram-model chain, the sessionized path collect, and the
    # distributed prefix sum
    # r13: the shared basket distinct+self-join+pair-agg build timed
    # on its own (r12 verdict item 7), so market_basket_rules (and
    # A82, which shares it) measure warm rule work only
    "basket_pair_counts",
    "market_basket_rules",
    "graph_kcore",
    "text_bigram_lm_score",
    "events_top_paths",
    "pareto_abc_classes",
    # r6 additions: the three newly value-oracled families whose hash
    # plumbing changed this round (portable md5 simhash, banded dHash
    # clusters, hyperplane-bucketed ANN) — benched so the portability
    # rewrite stays honest about cost
    "dedup_simhash",
    "multimodal_phash_dedup",
    "ann_lsh_bucketed",
    # r7 additions: the support-graph community family (CC pays the
    # shared supported-edge build cold; LPA/modularity ride it warm —
    # same attribution pattern as triangle/kcore) and the two
    # pinned-geometry companions whose quadratic-bounding / probe
    # claims are exactly what must not silently regress. r8: the
    # support-filtered edge build is its own timed entry (judge item
    # 3), so CC no longer pays it cold for the family
    "graph_copurchase_supported",
    "graph_connected_components",
    "graph_label_propagation",
    "graph_modularity",
    "semdedup_pairs",
    "ann_ivf_pinned_topk",
    # r7 second-half additions: the two integer ladders (iterative
    # discipline — per-round checkpoint cost is the thing to watch),
    # the frozen-codebook ADC scan (the expression-heavy encode must
    # not silently grow), and the two portable sketch twins whose
    # whole point is fixed-size state from one corpus pass. r8: the
    # purchase-graph build is its own timed entry (judge item 3) —
    # pagerank_ladder previously paid the lineitem⋈orders build cold
    # each pass while HITS rode it warm
    "graph_purchase_edges",
    "graph_pagerank_ladder",
    "graph_louvain_ladder",
    "ann_pq_pinned_topk",
    "sketch_cms_portable",
    "sketch_kmv_setops",
    # r7 third-pass additions. graph_hits_ladder sits right after
    # graph_pagerank_ladder on purpose: both ride the shared
    # purchase_edges persist (pagerank pays the build cold each pass,
    # HITS warm — same attribution pattern as triangle/kcore on
    # copurchase_edges). ann_recall_eval runs BOTH audited searches
    # (exact + pinned IVF) per pass, so its floor is intrinsically
    # the sum of the pair; the stat battery and chi2 are one-scan
    # events aggregates benched to keep the count-frame shape honest
    "graph_hits_ladder",
    "ml_kmeans_ladder",
    "ann_recall_eval",
    "ab_mann_whitney",
    "ab_ks_test",
    "events_chi2_independence",
    "ab_bootstrap_se",
    "events_attribution_models",
    "events_cohort_ltv",
    "sketch_sample_quantiles",
    "events_timeseries_backtest",
    "ab_test_battery",
    # r8 additions: the two recursion ladders — per-type ordered-array
    # folds whose cost is one hourly pre-agg + a hours-sized collect;
    # benched so the HOF fold (interpreted, not codegen) stays honest.
    # Deliberately NOT benched: graph_louvain_fixpoint (its per-round
    # machinery IS graph_louvain_ladder's, already timed; the fixpoint
    # only adds a data-dependent loop count) and ann_rank_fusion /
    # graph_ppr_ladder / stream_* twins (each re-runs component
    # searches or a stream replay already timed via their own keys —
    # a second timing would double-count the same work)
    "events_exp_smoothing",
    "events_holt_trend",
    # pays the supported-edge build cold in isolation; in the pass it
    # rides warm behind graph_connected_components like LPA/modularity
    "graph_assortativity",
    # r9 additions: the IVF insert/drift report (one assignment scan +
    # one 16-group aggregate — benched so the exact-integer report
    # stays one-pass) and the vault PIT build (broadcast snapshot
    # spine + one hash-keyed aggregate)
    "ann_ivf_incremental_pinned",
    "etl_data_vault_pit",
    # r10 addition: the vault bridge (PIT-resolved hub->link->hub
    # path flatten — broadcast spine + one keyed max_by + the
    # orderkey equi-join into lineitem + distinct + one aggregate)
    "etl_data_vault_bridge",
    # r11 additions: ST28 streaming vault ingest (three-wave file
    # stream -> insert-only anti-join merge per micro-batch; times
    # the full land/stream/merge/report cycle), E54 vault mart
    # (hash-keyed dim/fact reconstruction + current-version max_by),
    # and E55 incremental mart refresh (delta-proportional IVM)
    "stream_data_vault_ingest",
    "etl_data_vault_mart",
    "etl_data_vault_mart_refresh",
    # r13 additions (r12 verdict item 2): the nine r12 keys that had
    # 4-tier scale curves but no regression floors — a 3x slowdown in
    # any of them was invisible to `regressed` — plus the r13 E16b
    # approx-profile twin. graph_ktruss rides the supported-edge
    # persist warm behind the community family, like LPA/modularity.
    "etl_data_vault_deletes",
    "graph_bfs_distance",
    "graph_ktruss",
    "events_autocorrelation",
    "events_survival_km",
    "events_trend_mk_theilsen",
    "events_seasonal_decompose",
    "events_holt_winters",
    "stream_holt_winters",
    "etl_profile_table_approx",
)

# Per-query regression floors (sf0.1 local[32]): r1 entries from
# BENCH_r01.json, r4 entries (q9 / unigram_lm / weighted_aes) seeded
# from BENCH_r04.json medians. A query slower than REGRESSION_FACTOR x
# its floor lands in the output's "regressed" map; queries with no
# floor yet are tracked but skipped by the check.
BASELINE = {
    # --- r1 floors ---
    "q1_pricing_summary": 2.866,
    "q3_shipping_priority": 1.432,
    "q5_local_supplier": 1.194,
    "q6_forecast_revenue": 0.303,
    "q14_promo_effect": 0.578,
    "q18_large_orders": 1.012,
    "etl_star_flagship": 2.357,
    "events_sessionize": 0.951,
    "dedup_exact": 1.449,
    "dedup_minhash_lsh": 2.766,
    "ann_cosine_topk": 1.039,
    "text_quality_score": 0.587,
    "q21_waiting_supplier": 1.32,
    "pipeline_clean_corpus": 2.922,
    # --- r4 floors (medians, BENCH_r04.json) ---
    "q9_product_profit": 1.198,
    "text_unigram_lm_score": 1.139,
    "sample_weighted_aes": 0.495,
    # --- r6 floors: min of the two round-6 local median-of-3 runs
    #     (r5 entries finally seeded + the round-6 additions) ---
    "text_vocab_topk": 1.091,
    "text_bigram_pairs": 1.473,
    "sort_global_rank": 2.871,
    "dedup_duplicate_spans": 2.797,
    "interval_islands": 1.252,
    "text_gopher_quality": 2.503,
    "dedup_source_overlap": 2.689,
    "dedup_semantic_semdedup": 11.603,
    "text_bpe_encode": 4.661,
    # --- r7 floors: warm sf0.1 runs at add time (triangle floor
    #     re-seeded after the compact-forward rewrite: 9.7 -> 5.7 s;
    #     re-seeded AGAIN in r7 from a median-of-5 idle-box run at
    #     5.19 s — the r5/r6 drivers' 6.7-6.8 s readings were box
    #     noise, not a regression. Decomposition (same run): 1.70 s
    #     shared copurchase_edges build+persist (triangle is the
    #     first graph query per pass, so it pays it cold) + 3.16 s
    #     triangle proper with warm edges; see DECOMPOSITION below,
    #     recorded into bench_detail.json) ---
    "graph_triangle_count": 5.187,
    "agg_equidepth_histogram": 3.801,
    "text_hashed_tf": 2.519,
    "events_rolling_distinct": 1.346,
    "etl_expectations_report": 1.111,
    # --- r8 floors, re-seeded r6 from an idle-box run (the original
    #     seeding shared the box with an sf0.1 oracle sweep and was
    #     flagged generous; kcore's floor also absorbs the shared
    #     copurchase_edges persist) ---
    "market_basket_rules": 2.778,
    "graph_kcore": 4.588,
    "text_bigram_lm_score": 1.483,
    "events_top_paths": 0.957,
    "pareto_abc_classes": 2.236,
    # --- r6 floors: idle-box medians at add time. ann_lsh_bucketed is
    #     SLOWER than the brute-force twin at sf0.1 by design — 80
    #     hyperplane dots per vector only pay off when the corpus
    #     outgrows the query x corpus product (the 100 TB regime);
    #     benched to keep that overhead from silently growing ---
    "dedup_simhash": 3.516,
    "multimodal_phash_dedup": 2.071,
    # re-seeded r8 (was 7.999): the hyperplane matrix moved from plan
    # literals to broadcast data after the scaled-integer rewrite
    # doubled wall — profiling put ~11 s of the old cost in Catalyst
    # ANALYSIS of 80 literal-array HOFs, not execution. The new floor
    # is the post-fix idle-box suite median (sentinel 1.005).
    "ann_lsh_bucketed": 5.869,
    # --- r7 floors: median-of-5 idle-box runs at add time, replaying
    #     the bench pass order (CC cold on the supported-edge build,
    #     LPA/modularity warm behind it) ---
    "graph_connected_components": 3.184,
    "graph_label_propagation": 1.652,
    "graph_modularity": 1.847,
    "semdedup_pairs": 2.653,
    # re-seeded r7 third pass: the 2.771 seed came from a measurably
    # faster box epoch (same code measured 3.7 that afternoon, then a
    # stable 4.2-4.5 median-of-5 across three separate evening
    # sessions after the box's page cache was dropped and load
    # character changed) — a floor the measuring box cannot reproduce
    # on byte-identical code is a wolf-crying gate, the triangle
    # lesson in reverse
    # re-seeded again r8 after the pinned geometry moved from plan
    # literals to broadcast data (same fix as ann_lsh_bucketed):
    # 4.296 -> post-fix idle-box suite median
    "ann_ivf_pinned_topk": 1.903,
    # --- r7 second-half floors: median-of-5 idle-box runs at add
    #     time, replaying the bench pass order (supported edges warm
    #     behind graph_connected_components; pagerank_ladder builds
    #     and releases its own purchase-graph edges per run) ---
    "graph_pagerank_ladder": 8.203,
    "graph_louvain_ladder": 8.531,
    # re-seeded r8: codebooks as broadcast data (was 7.059)
    "ann_pq_pinned_topk": 1.988,
    "sketch_cms_portable": 1.602,
    # re-seeded r9: the 1.43 floor predates the r7 collision-semantics
    # fix (hash BEFORE dedup, so md5 runs per input row — the
    # correctness contract the oracle replays). r9 folded the double
    # distinct into one shuffle (1.97 → ~1.75 s) but the per-row md5
    # is irreducible without giving the collision semantics back; new
    # floor = settled-instant samples (1.736/1.770) from a
    # median-of-5 probe whose interleaved sentinel read 1.028/1.019
    # at those instants (evidence: r9 build log)
    "sketch_kmv_setops": 1.75,
    # --- r7 third-pass floors: median-of-5 idle-box runs at add time
    #     (hits measured in bench order, warm behind pagerank_ladder
    #     on the shared purchase_edges persist) ---
    "graph_hits_ladder": 9.001,
    "ml_kmeans_ladder": 3.846,
    # re-seeded r8: rides the pinned-IVF data-form fix (was 7.596).
    # re-probed r12 (r11 judge item 4: 1.12x was the suite's largest
    # drift): two INDEPENDENT full-suite passes on an otherwise idle
    # box (sentinel 1.022 / 1.042, suite_drift 1.0) measured settled
    # medians 4.201 and 4.282 — the 3.536 epoch is not reproducible
    # on the current codebase (the key runs exact + pinned-IVF per
    # pass; the r11 ml broadcast-lifecycle hook re-broadcasts the
    # O(k*d) state each pass, and the r11 DECIMAL digest rides both
    # audited searches). Re-pinned at the min of the two pass medians
    # per the r10 rule (floors from bench.py's own pass, never an
    # isolated probe).
    "ann_recall_eval": 4.201,
    "ab_mann_whitney": 2.163,
    "ab_ks_test": 2.226,
    "events_chi2_independence": 1.02,
    "ab_bootstrap_se": 3.826,
    "events_attribution_models": 1.933,
    "events_cohort_ltv": 0.865,
    "sketch_sample_quantiles": 4.503,
    "events_timeseries_backtest": 1.827,
    "ab_test_battery": 4.395,
    "graph_assortativity": 3.631,
    # --- r8 floors: idle-box suite medians at add time (sentinel
    #     1.036) — the two recursion-ladder folds ---
    "events_exp_smoothing": 0.538,
    "events_holt_trend": 0.358,
    # --- r9 floors for the three r8 edge-build entries (r8 verdict
    #     item 4: timed since r8 but floorless — regressions were
    #     invisible). Seeded min(r8 DRIVER median at sentinel 1.024,
    #     settled-instant local median-of-5 at sentinel ~1.02) ---
    "graph_copurchase_edges": 2.146,
    "graph_copurchase_supported": 1.99,
    "graph_purchase_edges": 1.754,
    # --- r9 additions: settled-instant medians from the same probe ---
    "ann_ivf_incremental_pinned": 1.651,
    "etl_data_vault_pit": 1.135,
    # --- r10 addition, re-pinned r11 (advisor: 2.95 sat below 4 of
    #     the 5 probe samples — one cold-cache sample could flag a
    #     spurious regression on a brand-new key). Re-pinned at the
    #     r10 DRIVER gate-box measurement (3.42; local settled
    #     median with the r11 DECIMAL digest is 2.91, so the floor is
    #     conservative for real regressions and robust to cold
    #     codegen) ---
    "etl_data_vault_bridge": 3.42,
    # --- r11 additions: suite-context medians at sentinel 1.0 (the
    #     r10 rule: floors come from bench.py's own pass, never an
    #     isolated probe) ---
    "stream_data_vault_ingest": 4.79,
    "etl_data_vault_mart": 1.94,
    "etl_data_vault_mart_refresh": 1.14,
    # --- r13 floors: min of the two r13 seeding passes (sentinel
    #     1.115 / 1.055, suite_drift 1.019 / 1.0, regressed {} on the
    #     second) — the r10 rule, floors from bench.py's own pass ---
    "graph_oriented_adjacency": 3.327,
    "basket_pair_counts": 4.293,
    "etl_data_vault_deletes": 2.13,
    "graph_bfs_distance": 1.979,
    "graph_ktruss": 1.31,
    "events_autocorrelation": 0.844,
    "events_survival_km": 0.993,
    "events_trend_mk_theilsen": 2.963,
    "events_seasonal_decompose": 0.901,
    "events_holt_winters": 0.746,
    "stream_holt_winters": 4.739,
    "etl_profile_table_approx": 3.235,
}
# r13 re-seeds for the three plan-changed entries (old floors timed
# work the keys no longer do): graph_triangle_count 5.187 -> 1.635
# (the deg/oriented/adj build moved to graph_oriented_adjacency),
# graph_hits_ladder 9.001 -> 6.151 (single-execution rounds),
# market_basket_rules 2.778 -> 1.256 (pair build moved to
# basket_pair_counts), graph_kcore 4.588 -> 4.411 (shared round-1
# degrees). Values = min of the two r13 seeding passes.
BASELINE.update(
    {
        "graph_triangle_count": 1.635,
        "graph_kcore": 4.411,
        "graph_hits_ladder": 6.151,
        "market_basket_rules": 1.256,
    }
)
# r14 re-seeds, from TWO settled suite passes (run 1: sentinel_ratio
# 1.0 / suite_drift 1.0, run 2: 1.088 / 1.0 — the r10 rule's two
# quiet passes; values = min of the two pass medians):
# - graph_modularity 1.847 -> 0.598 and graph_louvain_ladder 8.531 ->
#   5.863: the old floors predate the r13 lpa_labels memo + stay-score
#   fold (deferred re-seed, r13 "Not yet optimized" item 5).
# - dedup_semantic_semdedup 11.603 -> 8.591, basket_pair_counts 4.293
#   -> 3.59: r6/r13 floors seeded on slower epochs sat 26-35% above
#   both quiet-pass medians — a regression to the old floor level
#   would never have flagged.
# - graph_label_propagation 1.652 -> 2.2, re-pinned UP (the r12
#   ann_recall_eval precedent): the r7 floor is not reproducible on
#   current code — four consecutive quiet-box readings (r13 driver
#   2.872, r13 run-3 2.713, r14 runs 2.200/2.278) sit 33-74% above
#   it. LPA pays the 3-round loop as the memo's first payer by bench
#   order (deliberate attribution); 2.2 is the min quiet median.
BASELINE.update(
    {
        "graph_modularity": 0.598,
        "graph_louvain_ladder": 5.863,
        "dedup_semantic_semdedup": 8.591,
        "basket_pair_counts": 3.59,
        "graph_label_propagation": 2.2,
    }
)
REGRESSION_FACTOR = 1.5
# short queries are timer noise at this scale; only flag a regression
# when the absolute slowdown is also material
REGRESSION_MIN_DELTA_SEC = 0.5


REPS = 3

# Box-drift sentinel (r7 judge item 4): a CODE-INDEPENDENT timed entry
# — a fixed spark.range reduction that touches no repo operator, no
# parquet, no shuffle — whose floor is a constant seeded once. Its
# median/floor ratio measures the MACHINE alone, so a uniform suite
# slowdown can be attributed to the box (sentinel slow too) or to the
# code (sentinel on-floor while the suite drifts) instead of
# self-absorbing into the suite-derived drift median.
SENTINEL_N = 8_000_000_000
# seeded 2026-08-15 from a median-of-5 idle-box run of the exact
# sentinel expression below (samples 0.928-1.078 s; the size was
# picked by sweeping 0.4B/2B/8B — shorter sentinels showed ±50%
# scheduler noise, 8B is CPU-bound long enough to stay within ±8%)
SENTINEL_FLOOR = 0.975
# a suite_drift this large is no longer "normalization", it is a
# finding: either the box epoch is sick (sentinel_ratio high too) or
# half the suite genuinely regressed (sentinel on-floor) — the r7
# advisor's absorption hole. Either way it must surface in the
# primary line, not vanish into the gate denominator.
DRIFT_ALERT = 1.5

# Box-epoch instability (r7 third pass, 2026-08-15 night): the same
# 61-entry suite on byte-identical code measured 154 -> 254 -> 199 ->
# 187 s across four runs as the HOST dropped the page cache (1.6 GB
# retained on a 128 GB box) and storage latency shifted;
# graph_triangle_count alone swung 6.2 -> 24.5 s rep-to-rep. Floors
# deliberately NOT re-seeded from that window — a floor seeded on a
# sick box is the mirror image of the "lucky idle-box seed" the r6
# verdict flagged. The suite_drift normalization (below) plus each
# entry's spread is the reader's tool for separating box epoch from
# code regression; keys whose flag survives drift normalization but
# whose code is unchanged since their floor (triangle, semdedup_pairs
# tonight) are cache-attribution-sensitive first-in-family payers of
# a cold shared build over cold storage.
#
# Cost attribution for queries whose HEADLINE timing includes shared
# infrastructure (r6 verdict item 2): measured median-of-5 on an idle
# box at sf0.1, 2026-08-14. graph_triangle_count runs first in the
# graph family each pass, so its cold timing carries the persisted
# copurchase_edges build that graph_kcore then reuses warm.
DECOMPOSITION = {
    # r13: the family's shared-build decomposition is now EXPLICIT in
    # the suite itself — graph_copurchase_edges (raw pairs),
    # graph_oriented_adjacency (deg/oriented/adj), then triangle /
    # clustering / kcore measure warm work; ditto basket_pair_counts
    # for market_basket_rules + item_similarity_cf. The r7 hand-made
    # decomposition below is retired in favor of those timed entries.
    "graph_triangle_count": {
        "note": "warm-adjacency intersection only since r13; the build is graph_oriented_adjacency's entry",
    },
    "graph_kcore": {"note": "warm-edge peel; round-1 degrees shared with graph_oriented_adjacency since r13"},
}

# Queries whose median moved >1.5s across rounds on byte-identical code
# (q1 swung 1.9<->3.1s three rounds running): sample them TWICE per
# round-robin pass — once in sequence position and once again at the
# pass tail — so the median draws from 2*REPS samples taken at
# different instants of the pass and a one-off sandbox stall cannot
# move it. bench_detail.json keeps every raw sample for spread
# decomposition. Cache-sharing queries (dedup_minhash_lsh,
# dedup_semantic_semdedup) are EXCLUDED: their tail re-sample always
# ran with the shared shingle cache warm while the in-sequence sample
# may pay the persist, so the 2*REPS median mixed warm/cold states and
# could mask a regression in the cold persist path (r6 advisor).
NOISY = ("q1_pricing_summary", "ab_bootstrap_se")
# ab_bootstrap_se joined r7 third pass: cache-free (eligible) and its
# md5×20-per-row explode is the suite's most CPU-bound stage, so a
# scheduler hiccup lands disproportionately on it (observed 4.2
# median with a 6.3 tail); 2×REPS sampling keeps one tail from
# flagging it.


def main() -> None:
    sf_dir = harness.SF_DIR
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = harness.start("bench", warm_dir=sf_dir)
    queries = harness.entrymod.queries()

    def run_once(name: str) -> float:
        return harness.time_noop(lambda: queries[name](spark, sf_dir))

    def run_sentinel() -> float:
        from pyspark.sql import functions as F

        return harness.time_noop(
            lambda: spark.range(SENTINEL_N).select(F.sum(F.col("id") % 7).alias("s"))
        )

    reps: dict[str, list[float]] = {name: [] for name in HEADLINE}
    sentinel_reps: list[float] = []
    for _ in range(REPS):
        sentinel_reps.append(run_sentinel())
        for name in HEADLINE:
            reps[name].append(run_once(name))
        # noisy queries: second sample at the pass tail (see NOISY)
        for name in NOISY:
            reps[name].append(run_once(name))
        # cold-start each pass: release the dedup family's shared
        # shingle cache, the graph family's shared co-purchase edges,
        # the cachereg memo frames (kmv/quantile kept sets, backtest
        # hourly rollup), and any other persisted storage so pass N+1
        # measures the same work as pass 1 (and re-persists cleanly —
        # no "already cached" warnings)
        harness.release(spark)

    # median over however many samples each query collected (REPS for
    # most, 2*REPS for NOISY); even-count medians take the lower middle
    # so a floor re-seed never averages two samples into a fake value
    timings = {name: harness.median(ts) for name, ts in reps.items()}
    spreads = {name: round(max(ts) - min(ts), 3) for name, ts in reps.items()}
    total = round(sum(timings.values()), 3)
    deltas = {
        name: round(t - BASELINE[name], 3)
        for name, t in timings.items()
        if name in BASELINE
    }
    # Suite-level drift: the box's speed CHANGES between epochs on
    # byte-identical code (observed same-night suite totals of 154 →
    # 254 → 199 → 187 s with page-cache drops and load-character
    # shifts; a DIFFERENT arbitrary set of keys cleared 1.5x on every
    # run). The median of per-query median/floor ratios estimates the
    # common box factor; a true code regression in one query still
    # stands out against it, while uniform slowdown cancels.
    ratios = [timings[n] / BASELINE[n] for n in deltas]
    drift = harness.median(ratios) if ratios else 1.0
    drift = max(drift, 1.0)  # a fast box must never mask a regression
    sentinel_median = harness.median(sentinel_reps)
    sentinel_ratio = max(sentinel_median / SENTINEL_FLOOR, 1.0)
    # drift alert (r7 advisor): a suite_drift beyond DRIFT_ALERT is an
    # explicit verdict item, attributed by the sentinel — "box" when
    # the code-independent entry drifted comparably, "code" when the
    # box is on-floor and the slowdown therefore lives in the repo
    drift_alert = None
    if drift > DRIFT_ALERT:
        drift_alert = "box" if sentinel_ratio > DRIFT_ALERT else "code"
    # a query "regressed" only when its MEDIAN clears the factor gate
    # RELATIVE TO the suite drift, by more than that query's own
    # observed rep spread — a shift neither same-session noise nor
    # box-epoch drift can explain
    regressed = {
        name: {
            "median_sec": timings[name],
            "baseline_sec": BASELINE[name],
            "spread_sec": spreads[name],
            "suite_drift": round(drift, 3),
        }
        for name in deltas
        if timings[name] > REGRESSION_FACTOR * drift * BASELINE[name]
        and deltas[name] > max(REGRESSION_MIN_DELTA_SEC, spreads[name])
    }
    # BENCH_r05 had "parsed": null — the one-line payload (36 queries x
    # 4 per-query maps) outgrew the driver's tail-capture window. The
    # primary line now carries only the contract fields + medians +
    # regressions; spreads / deltas / raw samples go to
    # bench_detail.json next to this script.
    detail = {
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "suite_drift": round(drift, 3),
        "sentinel_sec": sentinel_median,
        "sentinel_floor_sec": SENTINEL_FLOOR,
        "sentinel_ratio": round(sentinel_ratio, 3),
        "sentinel_samples": sentinel_reps,
        "drift_alert": drift_alert,
        "reps": REPS,
        "queries": timings,
        "query_spread": spreads,
        "samples": reps,
        "delta_vs_baseline": deltas,
        "baseline": BASELINE,
        "regressed": regressed,
        "decomposition": DECOMPOSITION,
    }
    detail_path = os.path.join(harness.ROOT, "bench_detail.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # BENCH_r05 AND BENCH_r07 both came back "parsed": null — each time
    # the one-line payload outgrew the driver's tail-capture window as
    # the suite grew (36 -> 63 entries). The r6 fix only shrank the
    # line; this one makes it SIZE-INDEPENDENT of the suite (r7 judge
    # item 1): the primary line carries the contract fields, the
    # drift/sentinel verdict, and a FIXED-SIZE core-query subset —
    # never the full medians map, which lives in bench_detail.json
    # beside every spread/sample/floor. "regressed" is O(#regressions),
    # empty on a healthy round.
    core = (
        "q1_pricing_summary",
        "q6_forecast_revenue",
        "etl_star_flagship",
        "dedup_minhash_lsh",
        "ann_cosine_topk",
        "text_quality_score",
        "graph_triangle_count",
        "sort_global_rank",
    )
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": {k: timings[k] for k in core if k in timings},
                "n_queries": len(timings),
                "reps": REPS,
                "sf": sf,
                "suite_drift": round(drift, 3),
                "sentinel_ratio": round(sentinel_ratio, 3),
                "drift_alert": drift_alert,
                "regressed": regressed,
            }
        )
    )
    # regressions are reported via the "regressed" field (kept rc=0 so
    # the per-round driver still records the JSON line itself)


if __name__ == "__main__":
    main()
