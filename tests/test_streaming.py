"""Streaming façade test: availableNow file-stream extraction produces
byte-identical output to the batch kernel, exactly once, resumable via
checkpoint."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF0001


def test_stream_extraction_matches_batch(spark, tmp_path_factory):
    from text_extraction_evaluation_spark.operators.extract import (
        extract_pages,
        extracted_clean,
    )
    from text_extraction_evaluation_spark.sources.readers import pages_df
    from text_extraction_evaluation_spark.streaming.stream import (
        read_pages_stream,
        start_extraction_stream,
    )

    base = tmp_path_factory.mktemp("stream")
    pages_dir = str(base / "pages")
    out_dir = str(base / "extracted")
    ckpt = str(base / "ckpt")

    pages = pages_df(spark, SF0001, n_partitions=6)
    pages.write.parquet(pages_dir)

    q = start_extraction_stream(read_pages_stream(spark, pages_dir), out_dir, ckpt)
    q.awaitTermination(300)

    got = {
        (r["url"], r["warc_ts"]): r["text"]
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["url"], r["warc_ts"]): r["text"]
        for r in extracted_clean(extract_pages(spark.read.parquet(pages_dir))).collect()
    }
    assert got == want

    # restart with same checkpoint: no new data -> no duplicates
    q2 = start_extraction_stream(read_pages_stream(spark, pages_dir), out_dir, ckpt)
    q2.awaitTermination(300)
    n_after = spark.read.parquet(out_dir).count()
    assert n_after == len(want)


def test_stream_dedup_drops_recrawls(spark, tmp_path_factory):
    """dropDuplicatesWithinWatermark keeps one row per url when the
    re-crawls arrive inside the watermark horizon."""
    from text_extraction_evaluation_spark.sources.readers import pages_df
    from text_extraction_evaluation_spark.streaming.stream import (
        dedup_pages_stream,
        read_pages_stream,
    )

    base = tmp_path_factory.mktemp("sdedup")
    pages_dir = str(base / "pages")
    out_dir = str(base / "out")
    ckpt = str(base / "ckpt")

    pages = pages_df(spark, SF0001, n_partitions=4)
    n_urls = pages.select("url").distinct().count()
    n_rows = pages.count()
    assert n_rows > n_urls  # the fixture plants duplicate crawls
    pages.write.parquet(pages_dir)

    q = (
        dedup_pages_stream(read_pages_stream(spark, pages_dir, max_files_per_trigger=2))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    out = spark.read.parquet(out_dir)
    assert out.count() == n_urls
    assert out.select("url").distinct().count() == n_urls


def test_stream_dedup_ordered_replay_matches_batch_first_crawl(
    spark, tmp_path_factory
):
    """Streaming<->batch contract for dedup_pages_stream: on an ORDERED
    replay (crawl generations arrive oldest-first, one file per
    trigger) the survivor per url is exactly the batch first-crawl row
    — same (url, warc_ts) set AND same bytes."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from text_extraction_evaluation_spark.sources.readers import pages_df
    from text_extraction_evaluation_spark.streaming.stream import (
        dedup_pages_stream,
        read_pages_stream,
    )

    base = tmp_path_factory.mktemp("sdedup_twin")
    src = base / "pages"
    src.mkdir()
    out_dir = str(base / "out")
    ckpt = str(base / "ckpt")

    pages = pages_df(spark, SF0001, n_partitions=4).cache()
    # batch twin: first crawl per url (deterministic — fixture crawl
    # timestamps are unique per url, asserted)
    per_url = pages.groupBy("url").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("warc_ts").alias("nd")
    )
    assert per_url.filter("n <> nd").count() == 0
    w = Window.partitionBy("url").orderBy("warc_ts")
    ranked = pages.withColumn("rn", F.row_number().over(w))
    first = ranked.filter("rn = 1").drop("rn")
    rest = ranked.filter("rn > 1").drop("rn")

    # ordered replay: generation files with strictly increasing mtimes
    # (FileStreamSource admits oldest-mtime files first)
    for i, gen in enumerate([first, rest]):
        tmp = str(base / f"gen{i}")
        gen.coalesce(1).write.parquet(tmp)
        part = next(
            p for p in os.listdir(tmp) if p.endswith(".parquet") and p.startswith("part")
        )
        dst = src / f"{i:02d}.parquet"
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))

    q = (
        dedup_pages_stream(
            read_pages_stream(spark, str(src), max_files_per_trigger=1),
            watermark="720 hours",  # keep all url state across the replay
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r["url"], r["warc_ts"]): r["text"]
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {(r["url"], r["warc_ts"]): r["text"] for r in first.collect()}
    pages.unpersist()
    assert got == want


def test_windowed_status_counts_equal_batch_aggregate(spark, tmp_path_factory):
    """The streaming windowed status aggregate must equal the batch
    groupBy(window, status) on the same finite input (complete output
    mode on a memory sink, so closed and open windows both emit)."""
    from text_extraction_evaluation_spark.operators.extract import extract_pages
    from text_extraction_evaluation_spark.sources.readers import pages_df
    from text_extraction_evaluation_spark.streaming.stream import (
        read_pages_stream,
        windowed_status_counts,
    )

    base = tmp_path_factory.mktemp("winstream")
    pages_dir = str(base / "pages")
    pages = pages_df(spark, SF0001, n_partitions=6)
    pages.write.parquet(pages_dir)

    agg = windowed_status_counts(read_pages_stream(spark, pages_dir))
    q = (
        agg.writeStream.format("memory")
        .queryName("win_status")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["window"]["start"], r["window"]["end"], r["status"]): r["n_docs"]
        for r in spark.sql("SELECT * FROM win_status").collect()
    }
    want = {
        (r["window"]["start"], r["window"]["end"], r["status"]): r["n_docs"]
        for r in (
            extract_pages(spark.read.parquet(pages_dir))
            .groupBy(F.window("warc_ts", "10 minutes"), "status")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .collect()
        )
    }
    assert got == want
    assert len({(s, e) for s, e, _ in got}) > 1  # multiple real windows


def test_stream_score_windowed_micro_f1_equals_batch(spark, tmp_path_factory):
    """Stream-static scoring contract: the streaming windowed micro
    counters (extract stream -> broadcast static gold join -> score
    kernel -> event-time window) equal the batch twin computed with
    the SAME operators on the same finite input — exact-integer
    counters, so equality is literal, not approximate."""
    from text_extraction_evaluation_spark.operators.extract import extract_pages
    from text_extraction_evaluation_spark.operators.score import score_extracted
    from text_extraction_evaluation_spark.sources.readers import gold_df, pages_df
    from text_extraction_evaluation_spark.streaming.stream import (
        read_pages_stream,
        windowed_micro_f1,
    )

    base = tmp_path_factory.mktemp("scorestream")
    pages_dir = str(base / "pages")
    pages = pages_df(spark, SF0001, n_partitions=6)
    pages.write.parquet(pages_dir)
    gold = gold_df(spark, SF0001)

    agg = windowed_micro_f1(read_pages_stream(spark, pages_dir), gold)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_f1")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    key = lambda r: (r["window"]["start"], r["window"]["end"], r["extractor"], r["dataset"])  # noqa: E731
    got = {
        key(r): (r["micro_matched"], r["micro_retrieved"], r["micro_relevant"], r["n_docs"])
        for r in spark.sql("SELECT * FROM win_f1").collect()
    }
    batch_scores = score_extracted(
        extract_pages(spark.read.parquet(pages_dir)), gold, keep_cols=("warc_ts",)
    )
    want = {
        key(r): (r["micro_matched"], r["micro_retrieved"], r["micro_relevant"], r["n_docs"])
        for r in (
            batch_scores.groupBy(F.window("warc_ts", "10 minutes"), "extractor", "dataset")
            .agg(
                F.sum("matched").alias("micro_matched"),
                F.sum("retrieved").alias("micro_retrieved"),
                F.sum("relevant").alias("micro_relevant"),
                F.count(F.lit(1)).alias("n_docs"),
            )
            .collect()
        )
    }
    assert got == want
    assert sum(v[3] for v in got.values()) > 0
