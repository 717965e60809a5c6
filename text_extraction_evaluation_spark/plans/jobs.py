"""Job orchestration: the resumable extraction run (SURVEY.md §3.2/§4.3).

The 100 TB design: pages are bucketed by url-hash; buckets are grouped
into CHUNKS; each chunk is extracted and committed atomically through
the catalog together with its per-partition lineage rows
(``run_metrics``). A re-run after any failure:

* first commits the ``run_metrics`` of any committed chunk that lacks
  them (a run that died between a chunk's two commits), from the
  committed files and the ``run_id`` in the chunk's manifest entry;
* skips chunks whose commit is already in the manifest (fast path);
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
repartition) plus the staging write; each chunk is then exactly two
jobs — the extraction write and the ``run_metrics`` write:

* ``url_bucket`` is recomputed from the kernel's output ``url``, so a
  chunk's plan has no join back to its input;
* ``run_metrics`` come from the chunk's read-back coalesced to one
  partition, so the aggregation needs no shuffle, and when chunks run
  one at a time a chunk's lineage commit overlaps the next chunk's
  extraction;
* every read is typed (explicit or manifest-recorded schema), so none
  pays a parquet-footer inference job.

On ``local[4]`` every Spark job costs ~0.1 s of fixed time, which is
why the budget is counted in jobs (``tests/test_jobs_staging.py``).

At cluster scale, chunking bounds the blast radius of a lost job to
one chunk and gives natural checkpoint granularity; within a chunk the
extraction kernel is a map-only stage.
"""

from __future__ import annotations

import shutil
import uuid

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


def _commit_run_metrics(spark: SparkSession, cat: LocalCatalog, chunk_id: str, run_id: str) -> None:
    """Derive a committed chunk's lineage rows from its files and commit
    them. The chunk is read back typed and coalesced to one partition,
    so the aggregation needs no shuffle: one Spark job."""
    path = cat.committed_chunks("extracted")[chunk_id]["path"]
    back = spark.read.schema(CHUNK_SCHEMA).parquet(path).coalesce(1)
    cat.commit_append(
        run_metrics_from_extracted(back, run_id, chunk_id),
        "run_metrics", chunk_id, meta={"run_id": run_id},
    )


def _backfill_run_metrics(spark: SparkSession, cat: LocalCatalog) -> None:
    """Commit the missing lineage of chunks whose ``extracted`` commit
    landed but whose ``run_metrics`` commit did not."""
    have = cat.committed_chunks("run_metrics")
    for chunk_id, entry in sorted(cat.committed_chunks("extracted").items()):
        if chunk_id not in have and "run_id" in entry:
            _commit_run_metrics(spark, cat, chunk_id, entry["run_id"])


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
    resumes: missing lineage is committed first, committed chunks are
    skipped, the committed url set is anti-joined out of the staged
    input.
    """
    import threading

    cat = LocalCatalog(out_root)
    run_id = run_id or uuid.uuid4().hex[:12]
    # one driver owns a catalog root at a time (LocalCatalog), so before
    # the first write whatever a hard-killed run left staged is an orphan
    for orphan in cat.root.glob("_staged-*"):
        shutil.rmtree(orphan, ignore_errors=True)
    cat.vacuum("extracted")
    cat.vacuum("run_metrics")
    _backfill_run_metrics(spark, cat)

    pending: list[tuple[list[int], str]] = []
    for lo in range(0, n_buckets, buckets_per_chunk):
        chunk_buckets = list(range(lo, min(lo + buckets_per_chunk, n_buckets)))
        chunk_id = f"b{chunk_buckets[0]:04d}-{chunk_buckets[-1]:04d}"
        if not cat.is_committed("extracted", chunk_id):
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

    def extract_chunk(chunk_buckets: list[int], chunk_id: str) -> None:
        chunk = staged.filter(F.col("url_bucket").isin(chunk_buckets))
        extracted = with_bucket(extract_pages(chunk), n_buckets)
        # one write materializes the kernel once; metrics are derived
        # from the committed files (consistent by construction)
        cat.commit_append(extracted, "extracted", chunk_id,
                          meta={"run_id": run_id, "buckets": chunk_buckets})

    def commit_lineage(chunk_id: str) -> None:
        _commit_run_metrics(spark, cat, chunk_id, run_id)

    def do_chunk(chunk_buckets: list[int], chunk_id: str) -> None:
        if abort.is_set():
            return
        try:
            extract_chunk(chunk_buckets, chunk_id)
            commit_lineage(chunk_id)
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
            _run_pipelined(spark, extract_chunk, commit_lineage, pending, fail_after_chunks)
        else:
            _run_concurrently(do_chunk, pending, max_concurrent_chunks)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return cat


def _run_pipelined(spark, extract_chunk, commit_lineage, pending, fail_after_chunks) -> None:
    """One chunk at a time, each chunk's lineage commit running on a
    second thread while the next chunk extracts: the lineage job and
    its driver-side planning (~0.2 s on ``local[4]``) hide behind the
    extraction job. At most one lineage commit is in flight, and its
    error surfaces before the next one starts. If an extraction raises,
    leaving the ``with`` block still waits for the in-flight lineage
    commit; should that commit fail too, its error is dropped for the
    extraction's and the next run commits the missing lineage."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # the job group, tags and other local properties follow the job
    in_thread = inheritable_thread_target(spark)(commit_lineage)
    with ThreadPoolExecutor(max_workers=1) as pool:
        lineage = None
        for n, (chunk_buckets, chunk_id) in enumerate(pending, 1):
            extract_chunk(chunk_buckets, chunk_id)
            if lineage is not None:
                lineage.result()
            lineage = pool.submit(in_thread, chunk_id)
            if fail_after_chunks is not None and n >= fail_after_chunks:
                lineage.result()
                raise ChunkFailure(f"injected failure after {n} chunks")
        lineage.result()


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


def run_score_job(
    spark: SparkSession,
    out_root: str,
    gold: DataFrame,
    extractor: str = "justext_spark",
) -> LocalCatalog:
    """Score the committed extraction output against gold and commit
    ``scores`` + ``report`` tables (S4) — idempotent like extraction."""
    from ..operators.report import ranked_report
    from ..operators.score import score_extracted

    cat = LocalCatalog(out_root)
    # orphans of a hard-killed run, as in run_extraction_job
    cat.vacuum("scores")
    cat.vacuum("report")
    extracted = read_extracted(spark, out_root)
    if extracted is None:
        raise RuntimeError(f"no committed extraction output under {out_root}")
    scores = score_extracted(extracted, gold, extractor=extractor)
    cat.commit_append(scores, "scores", "full")
    cat.commit_append(ranked_report(cat.read(spark, "scores")), "report", "full")
    return cat
