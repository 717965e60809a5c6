"""Mechanical raw-DOUBLE audit over EVERY registered query schema.

Round 3's only driver hash mismatch (q19) came from the one registry
query that emitted an aggregated money value as a raw ``cast("double")``
instead of exact integer units (BASELINE.md / VERDICT r3 item 2). The
registry convention since then (plans/queries.py docstring): money and
quantity aggregates leave a query as exact-integer units; the DOUBLE
columns that remain must be quotients/ratios of exact integers pinned
with ``round(x, 6)`` (or values carried verbatim from the fixture, e.g.
``c_acctbal``), all verified bitwise by the sf0.01 sweep.

This test enforces the convention mechanically at the schema level: the
set of (query, double-column) pairs is FROZEN below. Adding a new DOUBLE
output column — the only way a q19-style cross-engine last-bit drift can
enter the registry — fails here until the author both pins the value
(exact-integer units or a round()-pinned quotient, bit-compared in
scripts/sweep_oracle.py) and updates this allowlist. Removals must also
update the list, so the audit record stays exact.

Schema-only (no job execution): analysis is enough to see output types.
"""

from __future__ import annotations

from tests.conftest import SF0001

# Frozen audit record, enumerated 2026-08-19 at round-4 HEAD; every pair
# below is bit-exact green in the full sf0.01 DuckDB sweep (173/173).
DOUBLE_ALLOWLIST: dict[str, tuple[str, ...]] = {
    "ann_cosine_topk": ("cos_sim",),
    "ann_dim_truncation_recall": ("recall_at_5",),
    "ann_ivf_recall": ("recall_at_3",),
    "ann_ivf_topk": ("cos_sim",),
    "benchmark_decontamination": ("contamination",),
    "corpus_length_percentiles": ("p50_chars", "p90_chars", "p99_chars"),
    "dedup_embedding_cosine": ("cos_sim",),
    "dedup_jaccard_prefix": ("jaccard",),
    "dedup_minhash_verified": ("jaccard",),
    "dedup_ngram_jaccard": ("jaccard",),
    "doc_containment": ("containment",),
    "doc_sample_group_topk": ("priority",),
    "doc_sample_weighted": ("priority",),
    "dup_span_census": ("dup_frac",),
    "embedding_norms": ("avg_norm", "min_norm", "max_norm"),
    "embedding_sq8_census": ("mse_per_dim",),
    "hard_negative_mining": ("avg_hard_cos",),
    "lang_distribution": ("avg_chars",),
    "lang_id": ("lang_score",),
    "q10_returned_items": ("revenue", "c_acctbal"),
    "q14_promo_revenue": ("promo_revenue_pct",),
    "q18_large_orders": ("o_totalprice",),
    "q1_pricing_summary": (
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        "avg_qty",
        "avg_price",
    ),
    "q3_shipping_priority": ("revenue",),
    "q5_local_supplier_volume": ("revenue",),
    "q6_forecast_revenue": ("revenue",),
    "q7_volume_shipping": ("revenue",),
    "q9_product_profit": ("sum_profit",),
    "q_cube_order_stats": ("avg_totalprice",),
    "q_event_sessions": ("session_value",),
    "q_events_asof_join": ("purchase_value", "click_value"),
    "q_events_hourly": ("avg_value", "sum_value"),
    "q_events_json": ("avg_k",),
    "q_min_cost_supplier": ("acctbal",),
    "q_nation_revenue": ("revenue",),
    "q_rank_customers_window": ("acctbal",),
    "q_rollup_order_counts": ("total_price",),
    "q_top_customers": ("revenue",),
    "quality_filter": ("avg_mean_len", "avg_stop_ratio", "avg_uniq_ratio"),
    "quality_repetition": (
        "top_token_frac",
        "dup_2gram_frac",
        "dup_3gram_frac",
    ),
    "quantile_sample_audit": (
        "p50_exact",
        "p50_samp",
        "p90_exact",
        "p90_samp",
        "p50_err",
        "p90_err",
        "p99_err",
    ),
    "readability_census": ("flesch",),
    "table_profile_census": ("avg_len",),
    "text_quality": ("stop_ratio", "distinct_ratio", "length_sat"),
    "text_token_stats": ("avg_token_len",),
    "token_entropy_census": ("avg_entropy_nats",),
    "worst_documents": ("f1", "precision", "recall"),
    "zorder_layout_census": (
        "avg_files_per_user_scan",
        "avg_files_per_hour_scan",
    ),
}


def test_double_columns_are_exactly_the_pinned_allowlist(spark):
    from text_extraction_evaluation_spark.plans.queries import SQL_CHECKED

    observed: dict[str, tuple[str, ...]] = {}
    for name, (fn, _sql) in sorted(SQL_CHECKED.items()):
        cols = tuple(
            f.name
            for f in fn(spark, SF0001).schema.fields
            if f.dataType.simpleString() in ("double", "float")
        )
        if cols:
            observed[name] = cols

    added = {
        k: v for k, v in observed.items() if DOUBLE_ALLOWLIST.get(k) != v
    }
    removed = {
        k: v for k, v in DOUBLE_ALLOWLIST.items() if k not in observed
    }
    assert not added and not removed, (
        "DOUBLE output columns drifted from the pinned audit record.\n"
        f"new/changed: {added}\nremoved: {removed}\n"
        "A new DOUBLE aggregate must be pinned (exact integer units or a "
        "round(,6) quotient of exact integers, bit-compared in the sf0.01 "
        "sweep) before extending DOUBLE_ALLOWLIST."
    )
