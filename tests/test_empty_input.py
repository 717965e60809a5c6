"""Empty-corpus smoke: every representative query family must return
an EMPTY (or schema-stable) result on a zero-row fixture, not crash —
the behavior a production run hits on an empty partition/day/source.
Covers each plan family: scans, aggregates, windows, joins, iterative
loops (``ann_pq_adc_topk``'s codebook loop is the representative),
probes, sketches, kernels."""

from __future__ import annotations

import pytest

from tests.conftest import SF0001

REPRESENTATIVE = [
    "text_token_stats",
    "corpus_length_histogram",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_components",
    "dedup_simhash_pairs",
    "doc_containment",
    "heavy_hitters_cms",
    "tfidf_top_terms",
    "lang_id",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_ivf_recall",
    "doc_sample_weighted",
    "doc_sample_stratified",
    "leakage_safe_split_census",
    "readability_census",
    "unicode_nfc_census",
    "quality_filter",
    "quality_repetition",
    "benchmark_decontamination",
    "decontamination_clean",
    "crawl_novel_shingles",
    "outlink_path_census",
    "template_shape_census",
    "pii_redaction",
    "url_blocklist_filter",
    "crawl_content_diff",
    "vocab_growth_census",
    "token_entropy_census",
    "anchor_text_census",
    "page_encoding_census",
    "hard_negative_mining",
    "embedding_sq8_census",
    "mixture_temperature_plan",
    "q_event_funnel",
    "q_retention_cohorts",
    "ann_pq_adc_topk",
    "zorder_layout_census",
    "dedup_jaccard_prefix",
    "dedup_threshold_sweep",
    "stopword_discovery",
    "ann_dim_truncation_recall",
    "dedup_banding_sweep",
    "span_churn_census",
    "q18_large_orders",
    "q20_promo_excess_suppliers",
    "q_events_rolling_window",
    "scd2_page_history",
    "q_user_state_scd2",
    "doc_sample_group_topk",
    "extractor_bootstrap_ci",
    "scd2_incremental_census",
    "quantile_sample_audit",
    "q10_returned_items",
    "q_event_transitions",
    "table_profile_census",
    "textrank_keywords",
]


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("empty_sf")
    from text_extraction_evaluation_spark.sources.readers import TABLES

    for t in TABLES:
        schema = spark.read.parquet(f"{SF0001}/{t}.parquet").schema
        spark.createDataFrame([], schema).write.parquet(f"{base}/{t}.parquet")
    return str(base)


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_query_survives_empty_corpus(name, spark, empty_sf):
    from text_extraction_evaluation_spark.plans.queries import SQL_CHECKED

    fn, _sql = SQL_CHECKED[name]
    df = fn(spark, empty_sf)
    rows = df.collect()
    assert rows == [] or all(r is not None for r in rows)
