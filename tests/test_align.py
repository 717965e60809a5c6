"""Cogrouped span-alignment operator: the cogroup kernel must equal a
JVM-only join recomputation row for row, satisfy its own multiset
identities, and get a planted two-crawl diff exactly right."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001
from text_extraction_evaluation_spark.operators.align import (
    crawl_span_churn,
    recrawled_pair,
)
from text_extraction_evaluation_spark.operators.extract import extract_spans


def crawl_span_churn_join_twin(pages):
    """JVM-only recomputation of the same census: per (url, text)
    counts on each side, full-outer join, least() for the multiset
    intersection — no Python past the span kernel."""
    old, new = recrawled_pair(pages)
    ca = extract_spans(old).groupBy("url", "text").agg(F.count(F.lit(1)).alias("ca"))
    cb = extract_spans(new).groupBy("url", "text").agg(F.count(F.lit(1)).alias("cb"))
    j = ca.join(cb, ["url", "text"], "full_outer").select(
        "url",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    common = F.sum(F.least("ca", "cb"))
    return j.groupBy("url").agg(
        F.sum("ca").alias("n_spans_old"),
        F.sum("cb").alias("n_spans_new"),
        common.alias("n_common"),
        (F.sum("cb") - common).alias("n_added"),
        (F.sum("ca") - common).alias("n_removed"),
    )


@pytest.fixture(scope="module")
def churn_rows(spark):
    from text_extraction_evaluation_spark.sources.readers import pages_df

    pages = pages_df(spark, SF0001, n_partitions=8)
    return sorted(
        (tuple(r) for r in crawl_span_churn(pages).collect())
    )


def test_cogroup_equals_join_twin(spark, churn_rows):
    from text_extraction_evaluation_spark.sources.readers import pages_df

    pages = pages_df(spark, SF0001, n_partitions=8)
    twin = sorted(tuple(r) for r in crawl_span_churn_join_twin(pages).collect())
    assert churn_rows == twin


def test_multiset_identities_and_real_churn(churn_rows):
    assert len(churn_rows) == 25  # the synth recrawl selector plants 25
    for url, n_old, n_new, common, added, removed in churn_rows:
        assert added == n_new - common
        assert removed == n_old - common
        assert 0 <= common <= min(n_old, n_new)
    # templates differ between crawls, content persists: both real
    # churn and real overlap must exist somewhere in the fixture
    assert sum(r[4] for r in churn_rows) > 0  # added
    assert sum(r[3] for r in churn_rows) > 0  # common


def test_planted_two_crawl_diff(spark):
    """Hand-built pages: crawl 1 has paragraphs {A, B, B}, crawl 2 has
    {B, C} (as plain <p> blocks long enough to classify identically) —
    the diff must be common=1, added=1, removed=2."""
    A = "alpha " * 30
    B = "bravo " * 30
    C = "charlie " * 30

    def page(paras):
        body = "".join(f"<p>{p.strip()}</p>" for p in paras)
        return f"<html><body>{body}</body></html>".encode()

    rows = [
        ("http://x/1", pd.Timestamp("2026-01-01").to_pydatetime(), page([A, B, B]), "", "en"),
        ("http://x/1", pd.Timestamp("2026-01-02").to_pydatetime(), page([B, C]), "", "en"),
        ("http://x/2", pd.Timestamp("2026-01-01").to_pydatetime(), page([A]), "", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    got = {r["url"]: r for r in crawl_span_churn(pages).collect()}
    assert set(got) == {"http://x/1"}  # single-crawl url excluded
    r = got["http://x/1"]
    assert (r["n_spans_old"], r["n_spans_new"]) == (3, 2)
    assert (r["n_common"], r["n_added"], r["n_removed"]) == (1, 1, 2)
