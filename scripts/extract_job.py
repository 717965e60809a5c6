"""Standalone extraction job for spark-submit (scaling evidence runs).

    python scripts/make_pyfiles.py   # builds dist/engine.zip
    spark-submit --master local[N] --py-files dist/engine.zip \
        scripts/extract_job.py --sf-dir /root/testdata/sf0.1 --replicate 256

Times ONLY the steady-state pipeline (synth -> latest-crawl dedup ->
extraction kernel -> count) after a small untimed warmup that absorbs
JVM/Python-worker startup, and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--replicate", type=int, default=256)
    ap.add_argument("--partitions-per-core", type=int, default=3)
    ap.add_argument("--stage-breakdown", action="store_true")
    ap.add_argument(
        "--total-cores", type=int, default=0,
        help="override cluster core count (defaultParallelism is "
        "unreliable in local-cluster mode before executors register)",
    )
    ap.add_argument(
        "--materialize", default="",
        help="write the synth -> latest-crawl page fixture to this "
        "parquet path and exit (no timed section)",
    )
    ap.add_argument(
        "--pages-parquet", default="",
        help="read the page fixture from this parquet instead of "
        "re-synthesizing: the timed section becomes scan -> extraction "
        "kernel, the production shape (pages come from a table, not a "
        "generator), and the synth+window fixture cost is paid once "
        "and shared by every leg of a scaling comparison",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("extract-job")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # same rationale as sources/readers.get_spark: AQE's byte-based
        # coalescing starves the per-row-CPU Python kernel stage of
        # partitions (16 of 32 cores busy at sf0.1) — keep a low floor
        # so parallelismFirst fills every core.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = args.total_cores or spark.sparkContext.defaultParallelism

    from text_extraction_evaluation_spark.operators.extract import (
        extract_pages,
        extracted_clean,
        latest_crawl,
    )
    from text_extraction_evaluation_spark.sources.readers import pages_df

    n_parts = max(cores * args.partitions_per_core, 8)
    shuffle_parts = str(n_parts)
    spark.conf.set("spark.sql.shuffle.partitions", shuffle_parts)

    if args.materialize:
        # Fixture build (untimed): synth + latest-crawl window dedup,
        # written once and shared by every leg of the scaling pair so
        # the measured section is the steady-state scan -> kernel job.
        pages = pages_df(
            spark, args.sf_dir, n_partitions=n_parts, replicate=args.replicate
        )
        latest_crawl(pages).write.mode("overwrite").parquet(args.materialize)
        n = spark.read.parquet(args.materialize).count()
        print(json.dumps({"materialized": args.materialize, "n_docs": n}))
        spark.stop()
        return

    extras = {}
    if args.pages_parquet:
        # split the fixture so the CPU-bound kernel stage gets
        # ~partitions_per_core tasks per core at EITHER parallelism
        # level (the default 128m splits would under-partition the
        # ~100s-of-MB fixture for 32 cores, and a fixed small split
        # would over-schedule the 8-core leg)
        import pathlib as _pl

        fixture_bytes = sum(
            f.stat().st_size
            for f in _pl.Path(args.pages_parquet).glob("*.parquet")
        )
        split = max(1_048_576, fixture_bytes // n_parts)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        spark.conf.set(
            "spark.sql.files.openCostInBytes", str(max(65536, split // 8))
        )
        src = spark.read.parquet(args.pages_parquet)
        # untimed warmup: spins up Python workers + codegen on a slice
        extracted_clean(extract_pages(src.limit(2000))).count()
        pipeline = extracted_clean(extract_pages(src))
    else:
        # untimed warmup: spins up Python workers + codegen on 1 replica
        warm = pages_df(spark, args.sf_dir, n_partitions=n_parts, replicate=1)
        extracted_clean(extract_pages(latest_crawl(warm))).count()

        pages = pages_df(
            spark, args.sf_dir, n_partitions=n_parts, replicate=args.replicate
        )
        pipeline = extracted_clean(extract_pages(latest_crawl(pages)))
        if args.stage_breakdown:
            t0 = time.time(); pages.count()
            extras["t_synth"] = round(time.time() - t0, 3)
            t0 = time.time(); latest_crawl(pages).count()
            extras["t_synth_window"] = round(time.time() - t0, 3)
    t0 = time.time()
    n_docs = pipeline.count()
    wall = time.time() - t0

    print(
        json.dumps(
            {
                "cores": cores,
                "n_docs": n_docs,
                "wall_sec": round(wall, 3),
                "docs_per_sec": round(n_docs / wall, 1),
                "replicate": args.replicate,
                "sf_dir": args.sf_dir,
                **extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
