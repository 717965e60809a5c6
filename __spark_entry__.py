"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction+evaluation pipeline at
sf0.001. ``queries()`` exposes every implemented operator from
SURVEY.md §2 (plus the training-data-pipeline operators);
``oracle_sql()`` gives the DuckDB twin for each SQL-expressible one.
The extraction/scoring pipeline entries are non-SQL-expressible
(intra-document sequence computation inside Arrow kernels) — their
correctness gate is the byte-identical oracle parity suite in
tests/test_parity.py instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_extraction_evaluation_spark.operators.extract import (
        extract_pages,
        extracted_clean,
        latest_crawl,
        salted_repartition,
    )
    from text_extraction_evaluation_spark.operators.report import ranked_report
    from text_extraction_evaluation_spark.operators.score import score_extracted
    from text_extraction_evaluation_spark.sources.readers import gold_df, pages_df

    pages = pages_df(spark, sf_dir, n_partitions=16)
    latest = salted_repartition(latest_crawl(pages), 16)
    extracted = extracted_clean(extract_pages(latest))
    scores = score_extracted(extracted, gold_df(spark, sf_dir))
    return ranked_report(scores)


def _extracted_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_extraction_evaluation_spark.operators.extract import (
        extract_pages,
        extracted_clean,
        latest_crawl,
    )
    from text_extraction_evaluation_spark.sources.readers import pages_df

    pages = pages_df(spark, sf_dir, n_partitions=16)
    return extracted_clean(extract_pages(latest_crawl(pages))).select(
        "url", "text", "n_paragraphs", "n_good", "status"
    )


def _extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_extraction_evaluation_spark.operators.extract import (
        extract_spans,
        latest_crawl,
    )
    from text_extraction_evaluation_spark.sources.readers import pages_df

    pages = pages_df(spark, sf_dir, n_partitions=16)
    return extract_spans(latest_crawl(pages))


def _doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_extraction_evaluation_spark.operators.extract import (
        extract_pages,
        extracted_clean,
        latest_crawl,
    )
    from text_extraction_evaluation_spark.operators.score import score_extracted
    from text_extraction_evaluation_spark.sources.readers import gold_df, pages_df

    pages = pages_df(spark, sf_dir, n_partitions=16)
    extracted = extracted_clean(extract_pages(latest_crawl(pages)))
    return score_extracted(extracted, gold_df(spark, sf_dir))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize pages from the sf0.001 seed corpus, dedup to
    the latest crawl, extract main content (jusText-style Arrow kernel),
    score vs gold (LCS + BoW), aggregate + rank per dataset."""
    return _pipeline_report(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from text_extraction_evaluation_spark.plans.queries import SQL_CHECKED

    # The oracle-checked SQL entries in registry order, then the
    # non-SQL-expressible pipeline operators (rows-only check; byte-exact
    # parity is enforced by tests/test_parity.py instead).
    return {
        **{name: fn for name, (fn, _sql) in SQL_CHECKED.items()},
        "extract_report": _pipeline_report,
        "extracted_texts": _extracted_texts,
        "extract_spans": _extract_spans,
        "doc_scores": _doc_scores,
    }


def oracle_sql() -> dict[str, str]:
    from text_extraction_evaluation_spark.plans.queries import SQL_CHECKED

    return {name: sql for name, (_fn, sql) in SQL_CHECKED.items()}
