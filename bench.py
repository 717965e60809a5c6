"""Benchmark harness (driver contract: one JSON line to stdout).

Runs the flagship pipeline and then every oracle-checked registry entry
(``plans.queries.SQL_CHECKED``, in registry order) at
$SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS]
(default: the cores this process may run on, see
``sources.readers.default_cores``). The flagship extraction
pipeline runs over the pages synthesized from that fixture as they
are; at small scale factors its fixed per-job overhead is a large
share of the time. ``perfbench/`` is the benchmark; these numbers are
context only.

Output: {"metric": "...", "value": <total sec>, "unit": "sec",
         "queries": {name: sec}, "sf": <sf>, ...extras}
"""

from __future__ import annotations

import json
import os
import sys
import time


def _noop_write(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from text_extraction_evaluation_spark.operators.extract import (
        extract_pages,
        extracted_clean,
        latest_crawl,
    )
    from text_extraction_evaluation_spark.operators.report import ranked_report
    from text_extraction_evaluation_spark.operators.score import score_extracted
    from text_extraction_evaluation_spark.plans.queries import SQL_CHECKED
    from text_extraction_evaluation_spark.sources.readers import (
        default_cores,
        get_spark,
        gold_df,
        pages_df,
    )

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    cpus = default_cores()
    spark = get_spark(
        "bench",
        cores=cpus,
        shuffle_partitions=max(32, cpus),
        # ParallelGC with capped threads ran most stable next to the
        # Python worker pool (measured on a 32-core host)
        extra_java_options=(
            f"-XX:+UseParallelGC -XX:ParallelGCThreads={max(2, cpus // 4)}"
        ),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # -- warm-up (uncounted, reported): first-use costs are session
    # fixtures, not operator costs — JVM whole-stage codegen compile,
    # Python worker pool spawn, Arrow channel setup, broadcast-thread
    # start.
    t0 = time.time()
    _noop_write(
        extracted_clean(
            extract_pages(latest_crawl(pages_df(spark, sf_dir, n_partitions=cpus)))
        )
    )
    fn, _sql = SQL_CHECKED["q_nation_revenue"]
    _noop_write(fn(spark, sf_dir))
    extras["warmup_sec"] = round(time.time() - t0, 3)

    # -- flagship: synth -> dedup -> extract -> score -> report -------------
    n_parts = cpus * 3
    pages = pages_df(spark, sf_dir, n_partitions=n_parts)
    latest = latest_crawl(pages)
    extracted = extracted_clean(extract_pages(latest))
    gold = gold_df(spark, sf_dir)

    # Persist the extraction output: the scoring stage consumes the
    # materialized extracted table (in production it reads the catalog
    # table the extract job wrote), not a re-run of the Arrow kernel.
    # Best of two timed runs: the shared virtualized host has ~10-min
    # co-tenancy epochs that can double a single run's wall time; both
    # runs are reported.
    t0 = time.time()
    n_docs = extract_pages(latest).count()
    run1 = time.time() - t0
    extracted = extracted.persist()
    t0 = time.time()
    n_docs = extracted.count()
    run2 = time.time() - t0
    t_extract = min(run1, run2)
    timings["extract_pipeline"] = round(t_extract, 3)
    extras["extract_runs"] = [round(run1, 3), round(run2, 3)]
    extras["extraction_docs"] = n_docs
    extras["extraction_docs_per_sec"] = round(n_docs / t_extract, 1)

    score_runs = []
    for _ in range(2):
        t0 = time.time()
        ranked_report(score_extracted(extracted, gold)).collect()
        score_runs.append(round(time.time() - t0, 3))
    timings["score_report"] = min(score_runs)
    extras["score_runs"] = score_runs
    extracted.unpersist()

    # second extractor (densometric rules) over the same pages
    from text_extraction_evaluation_spark.operators.extract import (
        extract_pages_density,
    )

    t0 = time.time()
    n_dens = extract_pages_density(latest).count()
    t_dens = time.time() - t0
    timings["extract_density_pipeline"] = round(t_dens, 3)
    extras["density_docs_per_sec"] = round(n_dens / t_dens, 1)

    # third extractor (BTE maximum-subarray window) over the same pages
    from text_extraction_evaluation_spark.operators.extract import (
        extract_pages_bte,
    )

    t0 = time.time()
    n_bte = extract_pages_bte(latest).count()
    t_bte = time.time() - t0
    timings["extract_bte_pipeline"] = round(t_bte, 3)
    extras["bte_docs_per_sec"] = round(n_bte / t_bte, 1)

    # -- every registry entry ---------------------------------------------------
    # best of two runs per query: the shared virtualized host has
    # co-tenancy epochs that can multiply a single run's wall time
    # (measured 12x once on an unchanged plan); the min of two runs
    # a few seconds apart is a far more stable point estimate.
    for name, (fn, _sql) in SQL_CHECKED.items():
        runs = []
        for _ in range(2):
            t0 = time.time()
            _noop_write(fn(spark, sf_dir))
            runs.append(time.time() - t0)
        timings[name] = round(min(runs), 3)

    spark.stop()

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_queries_total_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        **extras,
    }
    # Only the LAST 2000 characters of stdout are kept by the bench
    # record, so the final printed line must be compact (round 3's
    # record lost its headline to a tail-truncated JSON line). The full
    # dict goes to stderr, the compact line to stdout LAST.
    print(json.dumps(full), file=sys.stderr)
    flagship = {
        k: timings[k]
        for k in (
            "extract_pipeline",
            "score_report",
            "extract_density_pipeline",
            "extract_bte_pipeline",
        )
        if k in timings
    }
    compact = {
        "metric": "headline_queries_total_seconds",
        "value": total,
        "unit": "sec",
        "queries": flagship,
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
        "extraction_docs": extras.get("extraction_docs"),
        "extraction_docs_per_sec": extras.get("extraction_docs_per_sec"),
        "density_docs_per_sec": extras.get("density_docs_per_sec"),
        "bte_docs_per_sec": extras.get("bte_docs_per_sec"),
    }
    line = json.dumps(compact)
    assert len(line) < 1900, f"compact bench line too long: {len(line)}"
    print(line)


if __name__ == "__main__":
    sys.exit(main())
