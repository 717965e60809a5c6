"""One walk over EVERY registered query's executed plan, asserting:

* no CartesianProduct anywhere, and no row-at-a-time Python evaluation
  (BatchEvalPython) — the zero-per-row-UDF rule enforced by plan
  inspection rather than grep. Arrow kernels are the sanctioned Python
  path;
* the registry's keep rule: the plan runs a pipeline
  kernel — the extraction or span ``mapInArrow`` (operators/extract.py),
  the scoring ``mapInArrow`` (operators/score.py) or the span-churn
  cogroup (operators/align.py). Report entries consume the scoring
  kernel's output, so their plans contain it too. An entry that runs no
  kernel fails here unless it is one of the ``NON_PIPELINE`` entries
  below, so the registry cannot regrow unnoticed."""

from __future__ import annotations

import re

from tests.conftest import SF0001

PIPELINE_KERNEL = re.compile(
    r"\b(?:MapInArrow (?:extract_kernel|spans_kernel|score_kernel)"
    r"|FlatMapCoGroupsInPandas \[.*\], span_churn_diff)\("
)

# Registry entries whose executed plan runs no pipeline kernel: the
# relational, corpus, NLP and embedding analytics. CHANGES.md names
# the plan node that decided each one. They are the backlog of
# ROADMAP item 5; the set may shrink but never grow, and it must match
# the registry exactly.
NON_PIPELINE = frozenset({
    "anchor_text_census", "ann_cosine_topk", "ann_dim_truncation_recall",
    "ann_ivf_recall", "ann_ivf_topk", "ann_pq_adc_topk",
    "benchmark_decontamination",
    "corpus_length_histogram", "corpus_length_percentiles",
    "corpus_mixture_weights",
    "crawl_bloom_novelty", "crawl_content_diff", "crawl_novel_shingles",
    "decontamination_clean",
    "dedup_banding_sweep", "dedup_cluster_histogram", "dedup_components",
    "dedup_edit_distance", "dedup_embedding_cosine", "dedup_exact",
    "dedup_jaccard_prefix", "dedup_keep_best_census", "dedup_keep_census",
    "dedup_minhash_calibration", "dedup_minhash_lsh",
    "dedup_minhash_verified", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_simhash_pairs", "dedup_threshold_sweep", "doc_containment",
    "doc_fingerprint", "doc_rolling_fingerprints", "doc_sample_group_topk",
    "doc_sample_stratified", "doc_sample_weighted", "doc_shard_assignment",
    "dup_span_census", "dup_span_clean",
    "embedding_norms", "embedding_sq8_census", "hard_negative_mining",
    "heavy_hitters_cms", "hll_distinct_census",
    "lang_distribution", "lang_id", "lang_source_pivot", "langid_confusion",
    "leakage_safe_split_census",
    "mixture_temperature_plan",
    "outlink_path_census", "page_byte_census", "page_encoding_census",
    "pii_redaction",
    "q10_returned_items", "q13_customer_distribution",
    "q14_promo_revenue", "q15_top_supplier", "q16_parts_supplier",
    "q17_small_quantity", "q18_large_orders", "q19_disjunctive_revenue",
    "q1_pricing_summary", "q20_promo_excess_suppliers",
    "q21_waiting_suppliers", "q22_dormant_customers",
    "q3_shipping_priority", "q4_order_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
    "q9_product_profit", "q_cube_order_stats", "q_customers_without_orders",
    "q_event_funnel", "q_event_sessions", "q_event_transitions",
    "q_events_asof_join", "q_events_gapfill", "q_events_hourly",
    "q_events_interpolate", "q_events_json", "q_events_out_of_order",
    "q_events_percent_rank", "q_events_pit_state", "q_events_props_map",
    "q_events_range_join", "q_events_rolling_window", "q_events_variant",
    "q_grouping_sets", "q_integrity_audit", "q_lineitem_unpivot",
    "q_min_cost_supplier", "q_nation_revenue", "q_price_ntile",
    "q_rank_customers_window", "q_retention_cohorts",
    "q_rollup_order_counts", "q_top_customers", "q_urgent_shipped_orders",
    "q_user_state_scd2", "quality_filter",
    "quality_repetition",
    "quantile_sample_audit", "readability_census",
    "scd2_incremental_census", "scd2_page_history",
    "source_length_trend", "source_median_chars",
    "source_overlap_matrix", "source_trimmed_mean", "stopword_discovery",
    "table_profile_census", "template_shape_census", "text_quality",
    "text_token_stats", "textrank_keywords", "tfidf_top_terms",
    "token_entropy_census",
    "unicode_nfc_census", "url_blocklist_filter", "vocab_growth_census",
    "zorder_layout_census"
})


def test_no_cartesian_or_row_python_in_any_registered_plan(spark):
    from text_extraction_evaluation_spark.plans.queries import SQL_CHECKED

    assert NON_PIPELINE <= set(SQL_CHECKED), NON_PIPELINE - set(SQL_CHECKED)
    offenders: dict[str, list[str]] = {}
    for name, (fn, _sql) in sorted(SQL_CHECKED.items()):
        plan = (
            fn(spark, SF0001)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        bad = []
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            bad.append("BatchEvalPython")
        runs_kernel = bool(PIPELINE_KERNEL.search(plan))
        if not runs_kernel and name not in NON_PIPELINE:
            bad.append("no pipeline kernel")
        if runs_kernel and name in NON_PIPELINE:
            bad.append("runs a pipeline kernel but is listed in NON_PIPELINE")
        if bad:
            offenders[name] = bad
    assert not offenders, f"registered plans breaking the sweep: {offenders}"
