"""Per-url span-stream alignment between two crawls of the same page —
the COGROUPED Arrow surface (``groupby().cogroup().applyInPandas``).

``crawl_span_churn`` answers "what changed between crawl snapshots at
PARAGRAPH granularity": for every url crawled at least twice, the
oldest and newest crawls are segmented by the extraction kernel and
their paragraph multisets are diffed. Text-hash diffing
(plans.q_webtext.crawl_content_diff) only says *that* a page changed;
the span diff says *how much* was template churn versus content churn
— the number that decides whether a recrawl is worth re-extracting.

Why cogroup: the per-url diff needs BOTH span streams of one url in
one place. A join would pay one shuffle per side plus a pair-explosion
on (url, text) keys; cogroup shuffles each side once on url and hands
the two aligned groups to a single Arrow kernel — the exact shape
Spark built cogrouped applyInPandas for. The multiset arithmetic
(min/counts per distinct paragraph text) is pure per-group pandas.

Correctness twin: tests/test_align.py recomputes the same census with
a JVM-only (url, text)-count full-outer join and asserts row equality,
plus a planted two-crawl fixture with a hand-computed diff.
"""

from __future__ import annotations

from typing import Iterator  # noqa: F401 — mirrored kernel signatures

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .extract import extract_spans

CHURN_SCHEMA = (
    "url string, n_spans_old long, n_spans_new long, n_common long, "
    "n_added long, n_removed long"
)


def recrawled_pair(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(oldest, newest) crawl per url, urls with >= 2 crawls only.
    One url-key window pass computes the crawl count and both rank
    directions; the url shuffle it introduces is the same partitioning
    the downstream cogroup needs."""
    w = Window.partitionBy("url")
    asc = Window.partitionBy("url").orderBy(F.col("warc_ts").asc())
    desc = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    multi = (
        pages.withColumn("n_crawls", F.count(F.lit(1)).over(w))
        .filter(F.col("n_crawls") >= 2)
        .withColumn("rn_old", F.row_number().over(asc))
        .withColumn("rn_new", F.row_number().over(desc))
    )
    old = multi.filter(F.col("rn_old") == 1).drop("n_crawls", "rn_old", "rn_new")
    new = multi.filter(F.col("rn_new") == 1).drop("n_crawls", "rn_old", "rn_new")
    return old, new


def crawl_span_churn(pages: DataFrame) -> DataFrame:
    """Paragraph-multiset diff between the oldest and newest crawl of
    every recrawled url: n_common = Σ_text min(count_old, count_new),
    n_added/n_removed are the remainders. Runs the span kernel over
    exactly the recrawled subset (never the whole corpus twice)."""
    old, new = recrawled_pair(pages)
    spans_old = extract_spans(old).select("url", "text")
    spans_new = extract_spans(new).select("url", "text")

    def span_churn_diff(key: tuple, a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
        ca = a["text"].value_counts()
        cb = b["text"].value_counts()
        common = int(
            sum(min(int(ca[t]), int(cb[t])) for t in ca.index.intersection(cb.index))
        )
        n_old, n_new = int(len(a)), int(len(b))
        return pd.DataFrame(
            [
                {
                    "url": key[0],
                    "n_spans_old": n_old,
                    "n_spans_new": n_new,
                    "n_common": common,
                    "n_added": n_new - common,
                    "n_removed": n_old - common,
                }
            ]
        )

    return (
        spans_old.groupby("url")
        .cogroup(spans_new.groupby("url"))
        .applyInPandas(span_churn_diff, CHURN_SCHEMA)
    )

