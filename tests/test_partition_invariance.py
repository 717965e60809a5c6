"""Partition-topology invariance: the registry's exactness claims
(DECIMAL/BIGINT sums, md5 fingerprints, quantized-ln micro-units —
never raw double accumulation) mean a query's RESULT must not depend
on how the data is shuffled. Re-run a cross-section of hash-sensitive
queries at a different spark.sql.shuffle.partitions and compare
results exactly — the local stand-in for "same answer on 8 vs 1000
executors"."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import SF0001
from tests.test_queries_oracle import normalize
from text_extraction_evaluation_spark.plans.queries import SQL_CHECKED

# One representative per exact-arithmetic family: fingerprint sums,
# quantized-metric sums, sketch register sums, decimal money
# aggregates, window-gated dedup.
INVARIANCE_QUERIES = [
    "extract_report_exact",      # q9 metric sums over the Arrow kernel
    "hll_distinct_census",       # sketch register max + BIGINT sums
    "dedup_minhash_lsh",         # banded signature equi-join
    "q1_pricing_summary",        # DECIMAL money aggregates
    "tfidf_top_terms",           # integer-quantized idf ranking
    "line_dedup_clean",          # fingerprint sum over a broadcast anti-flag
    "q_events_interpolate",      # IGNORE-NULLS window neighbors on a spine
    "source_length_trend",       # integer normal-equation sums
    # The round-4 audit's formerly order-dependent AVG-over-double
    # queries, now pinned to per-row exact integer units — guarded here
    # so the class can't regress.
    "embedding_norms",           # scale-6 L2-norm units
    "q_cube_order_stats",        # scale-4 price units under CUBE
    "quality_filter",            # scale-6 ratio units
    "q_events_hourly",           # scale-6 value units + decimal sum
    "hard_negative_mining",      # scale-4 score units
]


@pytest.mark.parametrize("name", INVARIANCE_QUERIES)
def test_result_is_shuffle_topology_invariant(name, spark):
    fn, _sql = SQL_CHECKED[name]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = normalize(fn(spark, SF0001).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = normalize(fn(spark, SF0001).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
