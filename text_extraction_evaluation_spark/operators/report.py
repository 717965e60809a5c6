"""A1-A4 / W1 / O1 — dataset-level aggregation, ranking, top-k
diagnostics (SURVEY.md §2.5-2.7).

All pure built-in aggregates: hash aggregation with map-side partials,
whole-stage codegen — no Python in this stage. Means are MACRO (mean
of per-doc scores over status='ok' docs; empty/failed counted
separately — the reference's handling of failed extractions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def report(scores: DataFrame) -> DataFrame:
    """report(extractor, dataset, avg_* , std_f1, n_ok, n_empty, n_fail)."""
    ok = F.col("status") == "ok"
    return (
        scores.groupBy("extractor", "dataset")
        .agg(
            F.avg(F.when(ok, F.col("precision"))).alias("avg_precision"),
            F.avg(F.when(ok, F.col("recall"))).alias("avg_recall"),
            F.avg(F.when(ok, F.col("f1"))).alias("avg_f1"),
            F.stddev_samp(F.when(ok, F.col("f1"))).alias("std_f1"),
            F.avg(F.when(ok, F.col("f1_bow"))).alias("avg_f1_bow"),
            F.count(F.when(ok, 1)).alias("n_ok"),
            F.count(F.when(F.col("status") == "empty", 1)).alias("n_empty"),
            F.count(F.when(~ok & (F.col("status") != "empty"), 1)).alias("n_fail"),
            F.sum("matched").alias("micro_matched"),
            F.sum("retrieved").alias("micro_retrieved"),
            F.sum("relevant").alias("micro_relevant"),
        )
        .withColumn(
            "micro_f1",
            F.when(
                (F.col("micro_retrieved") + F.col("micro_relevant")) > 0,
                2.0 * F.col("micro_matched")
                / (F.col("micro_retrieved") + F.col("micro_relevant")),
            ).otherwise(F.lit(0.0)),
        )
    )


def ranked_report(scores: DataFrame) -> DataFrame:
    """W1: extractors ranked by macro-F1 within each dataset.

    The report has one row per (extractor, dataset), so it is coalesced
    to one partition after the aggregation: the rank window and the
    final sort then run in place, with no second shuffle and no
    range-sampling job."""
    rep = report(scores).coalesce(1)
    w = Window.partitionBy("dataset").orderBy(F.col("avg_f1").desc(), "extractor")
    return rep.withColumn("rank", F.rank().over(w)).orderBy("dataset", "rank")


def worst_documents(scores: DataFrame, k: int = 20) -> DataFrame:
    """O1 top-k diagnostic: the k worst-scored ok-documents per
    (extractor, dataset) — window + row_number, no global sort."""
    w = Window.partitionBy("extractor", "dataset").orderBy(F.col("f1").asc(), "url")
    return (
        scores.filter(F.col("status") == "ok")
        .withColumn("worst_rank", F.row_number().over(w))
        .filter(F.col("worst_rank") <= k)
        .select("extractor", "dataset", "worst_rank", "url", "f1", "precision", "recall")
    )


def status_counts(scores: DataFrame) -> DataFrame:
    """A3 fail/empty report."""
    return scores.groupBy("extractor", "dataset", "status").agg(
        F.count("*").alias("n_docs")
    )
