"""End-to-end pipeline CLI — the rebuild of the reference's three
lifecycles (SURVEY.md §3) in one resumable run:

    python scripts/make_pyfiles.py   # builds dist/engine.zip
    spark-submit --py-files dist/engine.zip scripts/run_pipeline.py \
        --sf-dir /root/testdata/sf0.001 --out /tmp/run1

1. ingest: synthesize/load pages
2. extract: chunked resumable extraction with lineage (re-run resumes)
3. score+report: LCS/BoW scoring vs gold, ranked report
4. sinks: markdown + LaTeX tables, SVG F1 chart
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--buckets-per-chunk", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("run-pipeline")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from text_extraction_evaluation_spark.operators.extract import latest_crawl
    from text_extraction_evaluation_spark.plans.jobs import (
        run_extraction_job,
        run_score_job,
    )
    from text_extraction_evaluation_spark.plans.report_sinks import write_all
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog
    from text_extraction_evaluation_spark.sources.readers import gold_df, pages_df

    cores = spark.sparkContext.defaultParallelism
    pages = latest_crawl(pages_df(spark, args.sf_dir, n_partitions=cores * 2))
    run_extraction_job(
        spark, pages, args.out,
        n_buckets=args.n_buckets, buckets_per_chunk=args.buckets_per_chunk,
    )
    run_score_job(spark, args.out, gold_df(spark, args.sf_dir))

    cat = LocalCatalog(args.out)
    report = cat.read(spark, "report")
    paths = write_all(report, f"{args.out}/report_artifacts")
    print(json.dumps({"report_rows": report.count(), **paths}))
    spark.stop()


if __name__ == "__main__":
    main()
