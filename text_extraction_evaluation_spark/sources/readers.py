"""Session + table loading + distributed page synthesis.

All relational work is plain DataFrame API so Catalyst handles column
pruning / predicate pushdown; the only Python surface is the
mapInArrow synthesis kernel (Arrow-batched, no per-row Python UDFs —
BASELINE.json:15).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .synth import dataset_for

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
GOLD_SCHEMA = "url string, gold_text string, dataset string"


def default_cores() -> int:
    """``$SPARK_GRAFT_CPUS``, else the number of cores this process may
    run on (what ``nproc`` prints)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app: str = "text-extraction-evaluation-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_java_options: str | None = None,
) -> SparkSession:
    """local[*] session tuned for the Arrow-heavy extraction workload.

    On a real cluster the same settings apply minus ``master`` (set by
    spark-submit); AQE stays on for runtime skew-join/partition
    coalescing (SURVEY.md §4).
    """
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or 2 * cores
    builder = SparkSession.builder.master(f"local[{cores}]").appName(app)
    if os.path.isdir("/dev/shm"):
        # shuffle on tmpfs: local-mode shuffle IO otherwise adds disk
        # variance that dwarfs the compute being measured
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    if extra_java_options:
        # e.g. GC flags for bench.py runs; applies only when the JVM has
        # not been launched yet
        builder = builder.config(
            "spark.driver.extraJavaOptions", extra_java_options
        )
    return (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # AQE coalesces post-shuffle partitions by SHUFFLE BYTES, but a
        # Python-kernel stage costs per-row CPU: with the default 1 MB
        # floor the well-compressed html shuffle collapsed to 16
        # partitions on an earlier 32-core host (half idle + 3x row skew
        # through the extraction kernel — 6.6s -> 4.0s median at sf0.1
        # with this 64 KB floor). The floor does not give every core a
        # task on a small shuffle: perfbench's ``ranking`` still
        # extracts in 3 tasks on 4 cores (perfbench/README.md, finding
        # 8). That stage is CPU-bound, with an extraction and a scoring
        # worker per task, so about 4 vCPUs stay busy.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html:binary dominates batch memory; cap records per Arrow
        # batch so batches stay ~tens of MB even with fat pages.
        # Measured (round 5, sf0.1 extraction leg, 8 interleaved reps):
        # 4096/8192 are throughput-equivalent to 2048 within epoch
        # noise (<1% median delta), so keep the smaller cap — it is the
        # memory-safer choice on executors smaller than this sandbox.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(
    spark: SparkSession, sf_dir: str, n_partitions: int | None
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    # Spread the corpus across cores (the fixture is one parquet file =
    # one input split).
    if n_partitions:
        docs = docs.repartition(n_partitions, "doc_id")
    return docs


def pages_df(
    spark: SparkSession, sf_dir: str, n_partitions: int | None = None
) -> DataFrame:
    """Synthesize the Common-Crawl-style ``pages`` table from the seed
    corpus, distributed: each partition of ``documents`` synthesizes
    its own pages inside one Arrow kernel (no shuffle of html bytes —
    pages are born partitioned)."""
    docs = _docs(spark, sf_dir, n_partitions)

    def gen(batches):
        from .synth import synth_pages_batch

        for batch in batches:
            yield synth_pages_batch(batch)

    return docs.mapInArrow(gen, PAGES_SCHEMA)


def gold_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gold(url, gold_text, dataset) — tiny vs pages; always the
    broadcast side of the scoring join."""
    docs = _docs(spark, sf_dir, None).select("doc_id", "text", "source")

    def gen(batches):
        from .synth import synth_gold_batch

        for batch in batches:
            yield synth_gold_batch(batch)

    return docs.mapInArrow(gen, GOLD_SCHEMA)


__all__ = [
    "TABLES", "PAGES_SCHEMA", "GOLD_SCHEMA",
    "get_spark", "load_table", "pages_df", "gold_df",
    "dataset_for",
]
