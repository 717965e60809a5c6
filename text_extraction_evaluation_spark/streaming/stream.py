"""Streaming extraction façade (SURVEY.md §2.11).

The reference is pure batch and the 10^12-row rebuild is batch with
resumable chunks — but because the extraction kernel is stateless per
row, it lifts unchanged into Structured Streaming: a parquet-directory
stream of pages -> the same ``extract_pages`` kernel -> append sink
with checkpointing. This module is that lift and the page streams
around it: url dedup within a watermark, stream-static scoring against
the gold table, and two watermarked windowed aggregates (micro-F1
token counters and extraction status counts). Each has a batch twin
built from the same operators, which the tests compare it against.

Use case at scale: continuous extraction of newly-landed crawl
segments (file-arrival stream on the pages table location).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_pages
from ..sources.readers import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def extract_stream(pages_stream: DataFrame) -> DataFrame:
    """The batch kernel applied to a stream — identical code path
    (mapInArrow is stream-capable for stateless kernels)."""
    return extract_pages(pages_stream)


def start_extraction_stream(
    pages_stream: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Append-mode parquet sink with checkpointing: the streaming twin
    of the batch chunk/manifest resume (exactly-once via checkpoint +
    idempotent file sink)."""
    extracted = extract_stream(pages_stream)
    return (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def dedup_pages_stream(
    pages_stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup on url: keep the first arrival of each url,
    dropping re-crawls that arrive within the watermark horizon —
    Structured Streaming's bounded-state twin of the batch
    ``latest_crawl``/``dedup_exact`` tier (state per url is evicted once
    the watermark passes, so memory stays proportional to the horizon,
    not the corpus — the property that matters at 10^12 pages)."""
    return pages_stream.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )


def score_stream(
    pages_stream: DataFrame, gold: DataFrame, extractor: str = "justext_spark"
) -> DataFrame:
    """Stream-static scoring: the extraction kernel over the page
    stream, joined to the STATIC gold table (broadcast — a stream-
    static inner join is stateless in Structured Streaming, no
    watermark needed on the static side), through the same Arrow score
    kernel as the batch path. Emits the per-document score rows as an
    append stream with ``warc_ts`` kept for event-time windowing."""
    from ..operators.score import score_extracted

    extracted = extract_stream(pages_stream)
    return score_extracted(extracted, gold, extractor, keep_cols=("warc_ts",))


def windowed_micro_f1(
    pages_stream: DataFrame, gold: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming evaluation dashboard aggregate: per 10-minute crawl
    window and dataset, the MICRO token counters (sum of matched /
    retrieved / relevant) from which precision/recall/F1 derive —
    counters, not averaged floats, so the batch twin comparison is
    exact-integer and late data folds in associatively."""
    scores = score_stream(pages_stream, gold)
    return (
        scores.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "10 minutes"), "extractor", "dataset")
        .agg(
            F.sum("matched").alias("micro_matched"),
            F.sum("retrieved").alias("micro_retrieved"),
            F.sum("relevant").alias("micro_relevant"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def windowed_status_counts(pages_stream: DataFrame, watermark: str = "1 hour"):
    """Stateful streaming aggregate: per 10-minute crawl-time window,
    extraction status counts with late-data watermarking."""
    extracted = extract_stream(pages_stream)
    return (
        extracted.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "10 minutes"), "status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
