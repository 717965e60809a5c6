"""Job orchestration: the resumable extraction run (SURVEY.md §3.2/§4.3).

The 100 TB design: pages are bucketed by url-hash; buckets are grouped
into CHUNKS; each chunk is extracted and committed atomically through
the catalog. Its per-partition lineage rides along in the committed
rows (the kernel's ``pid``/``bytes_in``/batch-time columns) and its
``run_id`` in the chunk's manifest entry, so lineage lands in the same
commit as the data; ``read_run_metrics`` aggregates it when asked. A
re-run after any failure:

* skips chunks whose url hashes the committed chunks already hold,
  under this ``n_buckets`` or another (fast path; a chunk id names its
  bucketing and bucket range, so ids of different bucketings never
  collide);
* anti-joins the committed url set out of the staged input (safety
  net — no url is ever extracted twice even if bucket assignment
  changed between runs, BASELINE.json:6 resumable runs).

Staging: the rows of every pending chunk (bucketed latest crawl, minus
the committed urls) are written ONCE per run to a parquet directory
under the catalog root, hash-spread by url to one file per core, so
the chunks filter the staged rows instead of re-running the scan, the
latest-crawl window and its shuffle. The directory is removed when the
run returns or raises; the next run removes one that a hard-killed run
left behind, and the commit-staging directories such a run orphaned,
before its first write. (On a 4-core host an eager
``localCheckpoint()`` of the same rows measured the same within noise,
slightly slower; the parquet stage also survives a lost executor.)

Spark job budget: staging is one job per shuffle in the input's
lineage (under adaptive execution: the latest-crawl window, the url
repartition) plus the staging write; each chunk is then exactly one
job, its extraction write:

* ``url_bucket`` is recomputed from the kernel's output ``url``, so a
  chunk's plan has no join back to its input;
* every read is typed (explicit or manifest-recorded schema), so none
  pays a parquet-footer inference job.

On ``local[4]`` every Spark job costs ~0.1 s of fixed time, which is
why the budget is counted in jobs (``tests/test_jobs_staging.py``).

At cluster scale, chunking bounds the blast radius of a lost job to
one chunk and gives natural checkpoint granularity; within a chunk the
extraction kernel is a map-only stage.
"""

from __future__ import annotations

import math
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import EXTRACT_SCHEMA, EXTRACTED_COLS, extract_pages
from ..sources.catalog import LocalCatalog

RUN_METRICS_COLS = [
    "run_id", "chunk_id", "partition_id", "url_bucket",
    "n_docs", "n_ok", "n_err", "bytes_in", "t_start", "t_end",
]

# what one committed ``extracted`` chunk holds: kernel output + bucket
CHUNK_SCHEMA = f"{EXTRACT_SCHEMA}, url_bucket int"

# the label run_score_job scores the committed jusText output under
_EXTRACTOR = "justext_spark"


class ChunkFailure(RuntimeError):
    """Injected failure for resume tests."""


def with_bucket(pages: DataFrame, n_buckets: int) -> DataFrame:
    return pages.withColumn(
        "url_bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def run_metrics_from_extracted(extracted_chunk: DataFrame, run_id: str, chunk_id: str) -> DataFrame:
    """Lineage rows aggregated from the lineage ride-along columns the
    kernel emits (pid/bytes_in, each batch's start and end time) — no
    Python accumulators. ``t_start`` is the earliest batch start and
    ``t_end`` the latest batch end of the partition."""
    ok = F.col("status") == "ok"
    return (
        extracted_chunk.groupBy("pid", "url_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(ok, 1)).alias("n_ok"),
            F.count(F.when(F.col("status") == "parse_error", 1)).alias("n_err"),
            F.sum("bytes_in").alias("bytes_in"),
            F.min("t_unix_start").alias("t_start"),
            F.max("t_unix").alias("t_end"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(chunk_id).alias("chunk_id"),
            F.col("pid").alias("partition_id"),
            "url_bucket", "n_docs", "n_ok", "n_err", "bytes_in",
            "t_start", "t_end",
        )
    )


def _covered(chunks: dict[str, dict], n_buckets: int, buckets: list[int]) -> bool:
    """Whether the committed ``extracted`` chunks (manifest entries by
    chunk id) hold every url hash that falls in ``buckets`` under
    ``n_buckets``. A resume may change ``n_buckets``, so a hash is held
    when the buckets of any bucketing it was cut under hold it; each
    residue modulo the lcm of the bucketings is checked. An entry that
    does not record its bucketing proves nothing, so none is held."""
    cover: dict[int | None, set[int]] = {}
    for c in chunks.values():
        cover.setdefault(c.get("n_buckets"), set()).update(c["buckets"])
    if None in cover:
        return False
    return all(
        any(r % n in held for n, held in cover.items())
        for r in range(math.lcm(n_buckets, *cover))
        if r % n_buckets in buckets
    )


def _stage(
    spark: SparkSession,
    pages: DataFrame,
    done: DataFrame | None,
    n_buckets: int,
    buckets: list[int],
    path: str,
) -> DataFrame:
    """The pending chunks' input rows, written once to ``path`` and read
    back typed: bucketed, committed urls anti-joined out, hash-spread to
    one file per core (a row count, not AQE's shuffle-byte coalescing,
    sizes the kernel's tasks)."""
    staged = with_bucket(pages.select("url", "warc_ts", "html", "lang"), n_buckets)
    staged = staged.filter(F.col("url_bucket").isin(buckets))
    if done is not None:
        staged = staged.join(done.select("url"), "url", "left_anti")  # J2 resume
    staged = staged.repartition(spark.sparkContext.defaultParallelism, "url")
    staged.write.parquet(path)
    return spark.read.schema(staged.schema).parquet(path)


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    n_buckets: int = 16,
    buckets_per_chunk: int = 4,
    fail_after_chunks: int | None = None,
    run_id: str | None = None,
    max_concurrent_chunks: int = 1,
) -> LocalCatalog:
    """Extract ``pages`` chunk by chunk with atomic commits + lineage.

    ``max_concurrent_chunks > 1`` runs that many chunk jobs in flight
    at once (a driver-side thread pool submitting independent Spark
    jobs — the scheduler interleaves their stages). At 100 TB one
    chunk's tail stages rarely saturate the cluster; overlapping
    chunks keeps executors busy through commit barriers. Manifest
    commits stay atomic under concurrency (LocalCatalog serializes the
    read-modify-write).

    ``fail_after_chunks=k`` raises ChunkFailure after k successful chunk
    commits (resume-test hook). Re-invoking with the same ``out_root``
    resumes: chunks whose url hashes earlier commits hold are skipped,
    the committed url set is anti-joined out of the staged input.
    """
    import threading

    cat = LocalCatalog(out_root)
    run_id = run_id or uuid.uuid4().hex[:12]
    # one driver owns a catalog root at a time (LocalCatalog), so before
    # the first write whatever a hard-killed run left staged is an orphan
    for orphan in cat.root.glob("_staged-*"):
        shutil.rmtree(orphan, ignore_errors=True)
    cat.vacuum("extracted")

    committed = cat.committed_chunks("extracted")
    pending: list[tuple[list[int], str]] = []
    for lo in range(0, n_buckets, buckets_per_chunk):
        chunk_buckets = list(range(lo, min(lo + buckets_per_chunk, n_buckets)))
        chunk_id = f"n{n_buckets:04d}-b{chunk_buckets[0]:04d}-{chunk_buckets[-1]:04d}"
        if not _covered(committed, n_buckets, chunk_buckets):
            pending.append((chunk_buckets, chunk_id))
    if not pending:
        return cat

    state = {"committed": 0}
    lock = threading.Lock()
    # fail-fast barrier: Future.cancel() only stops futures that never
    # started, and a worker can legally pick up a queued chunk in the
    # window between the first failure and the cancel sweep — the abort
    # flag makes late pickups no-ops, so a failure bounds commits at
    # (counted commits + in-flight workers), never the whole queue
    abort = threading.Event()

    def do_chunk(chunk_buckets: list[int], chunk_id: str) -> None:
        if abort.is_set():
            return
        try:
            chunk = staged.filter(F.col("url_bucket").isin(chunk_buckets))
            extracted = with_bucket(extract_pages(chunk), n_buckets)
            # one write materializes the kernel once; the rows carry
            # their lineage, the manifest entry their run and buckets
            cat.commit_append(extracted, "extracted", chunk_id, meta={
                "run_id": run_id, "buckets": chunk_buckets, "n_buckets": n_buckets,
            })
            with lock:
                state["committed"] += 1
                if fail_after_chunks is not None and state["committed"] >= fail_after_chunks:
                    raise ChunkFailure(f"injected failure after {state['committed']} chunks")
        except BaseException:
            abort.set()
            raise

    staging = str(cat.root / f"_staged-{uuid.uuid4().hex}")
    try:
        staged = _stage(
            spark, pages, cat.read(spark, "extracted"), n_buckets,
            [b for chunk_buckets, _ in pending for b in chunk_buckets], staging,
        )
        if max_concurrent_chunks <= 1:
            for chunk_buckets, chunk_id in pending:
                do_chunk(chunk_buckets, chunk_id)
        else:
            _run_concurrently(do_chunk, pending, max_concurrent_chunks)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return cat


def _run_concurrently(do_chunk, pending: list[tuple[list[int], str]], workers: int) -> None:
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [pool.submit(do_chunk, b, cid) for b, cid in pending]
        done, not_done = wait(futures, return_when=FIRST_EXCEPTION)
        # fail fast: on the first chunk error, cancel everything
        # still queued (in-flight chunks finish their commit — the
        # manifest stays consistent; a 1000-chunk run must not burn
        # hours completing a doomed job)
        first_err = next(
            (f.exception() for f in done if f.exception() is not None), None
        )
        if first_err is not None:
            for f in not_done:
                f.cancel()
    if first_err is not None:
        raise first_err


def read_extracted(spark: SparkSession, out_root: str) -> DataFrame | None:
    """User-facing view of the committed extraction output."""
    df = LocalCatalog(out_root).read(spark, "extracted")
    return None if df is None else df.select(*EXTRACTED_COLS)


def read_run_metrics(spark: SparkSession, out_root: str) -> DataFrame | None:
    """Per-partition lineage of the committed extraction output
    (``RUN_METRICS_COLS``): each committed chunk's ride-along columns,
    aggregated under the chunk id and ``run_id`` of its manifest entry.
    Nothing is stored, so a chunk's lineage lands in its own commit and
    costs a scan only when read. Each chunk is coalesced to one
    partition, so its aggregation needs no shuffle."""
    cat = LocalCatalog(out_root)
    views = [
        run_metrics_from_extracted(
            spark.read.schema(CHUNK_SCHEMA)
            .parquet(cat.chunk_path("extracted", chunk_id))
            .coalesce(1),
            entry["run_id"], chunk_id,
        )
        for chunk_id, entry in sorted(cat.committed_chunks("extracted").items())
    ]
    return reduce(DataFrame.unionByName, views) if views else None


def run_score_job(spark: SparkSession, out_root: str, gold: DataFrame) -> LocalCatalog:
    """Score the committed extraction output against gold and commit
    ``scores`` + ``report`` tables (S4) — idempotent like extraction.

    Raises, committing nothing, unless the committed chunks cover
    every url hash (``_covered``): the commit id is the fixed ``full``,
    so a report over a partial extraction (one a failed run left) would
    be returned by every later run."""
    from ..operators.report import ranked_report
    from ..operators.score import score_extracted

    cat = LocalCatalog(out_root)
    chunks = cat.committed_chunks("extracted")
    if not _covered(chunks, 1, [0]):
        raise RuntimeError(f"incomplete extraction under {out_root}: chunks {sorted(chunks)}")
    # orphans of a hard-killed run, as in run_extraction_job
    cat.vacuum("scores")
    cat.vacuum("report")
    scores = score_extracted(read_extracted(spark, out_root), gold, extractor=_EXTRACTOR)
    cat.commit_append(scores, "scores", "full")
    cat.commit_append(ranked_report(cat.read(spark, "scores")), "report", "full")
    return cat
