"""The batch workloads. Each repetition reads the seed's generated
tables and collects the program's ranked report.

* ``ranking``: pages -> latest_crawl -> jusText, density and BTE
  kernels -> score_extracted x3 -> union -> ranked_report. The paper's
  core deliverable; extraction is about 3/4 of its kernel CPU.
* ``extract-commit``: pages -> latest_crawl -> run_extraction_job
  (jusText, chunked commits into a fresh LocalCatalog root) ->
  run_score_job. The only workload with parquet writes, manifest commits
  and read-back; scoring is light.
"""

from __future__ import annotations

import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from text_extraction_evaluation_spark.operators.extract import (
    extract_pages,
    extract_pages_bte,
    extract_pages_density,
    latest_crawl,
)
from text_extraction_evaluation_spark.operators.report import ranked_report
from text_extraction_evaluation_spark.operators.score import score_extracted
from text_extraction_evaluation_spark.plans.jobs import run_extraction_job, run_score_job

from inputs import EXTRACTORS, Inputs

EXTRACT_OPS = {
    "justext_spark": extract_pages,
    "textdensity": extract_pages_density,
    "bte": extract_pages_bte,
}


@dataclass(frozen=True)
class Workload:
    name: str
    extractors: tuple[str, ...]  # what the oracle must compute
    n_urls: int  # drawn urls per repetition: the documents it carries


WORKLOADS = {
    w.name: w
    for w in (
        Workload("ranking", EXTRACTORS, 8_000),
        Workload("extract-commit", ("justext_spark",), 8_000),
    )
}


def union(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def ranking_scores(spark: SparkSession, inputs: Inputs) -> DataFrame:
    latest = latest_crawl(spark.read.parquet(inputs.pages))
    gold = spark.read.parquet(inputs.gold)
    return union(
        [score_extracted(EXTRACT_OPS[ex](latest), gold, extractor=ex) for ex in EXTRACTORS]
    )


def extract_commit(spark: SparkSession, inputs: Inputs, root: str) -> list:
    """Both jobs into ``root``; returns the committed report rows."""
    pages = latest_crawl(spark.read.parquet(inputs.pages))
    run_extraction_job(spark, pages, root, max_concurrent_chunks=1)
    cat = run_score_job(spark, root, spark.read.parquet(inputs.gold))
    return cat.read(spark, "report").collect()


def fresh_root(inputs: Inputs) -> str:
    return f"{inputs.root}/catalog-{uuid.uuid4().hex[:8]}"


def run_rep(name: str, spark: SparkSession, inputs: Inputs) -> list[dict]:
    """One repetition; returns the collected ranked report as dicts."""
    if name == "extract-commit":
        root = fresh_root(inputs)
        try:
            rows = extract_commit(spark, inputs, root)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    else:
        rows = ranked_report(ranking_scores(spark, inputs)).collect()
    return [r.asDict() for r in rows]
