"""E1 — the extraction operator (SURVEY.md §2.3).

One ``mapInArrow`` kernel per page: html bytes -> jusText-style
main-content text. All sub-steps (charset sniff, DOM segmentation,
feature computation, context-free classification, context-sensitive
smoothing, text assembly) are intra-document, so the operator is
perfectly data-parallel: no shuffle, no state across rows.

Scale notes:
* the kernel keeps its input's partitioning, and AQE cannot rebalance
  a python-map stage's input after the fact. A caller that needs row
  balance (skewed hosts) repartitions first, with
  ``salted_repartition``. The pipeline does not: its input is
  ``latest_crawl``'s url shuffle, which AQE coalesces by bytes, so on
  the 4-core benchmark host ``ranking``'s extraction stage runs 3
  tasks (perfbench/README.md, finding 8). That is fine there,
  because the stage is CPU-bound: each task runs an extraction and a
  scoring Python worker side by side, which keeps about 4 vCPUs busy,
  and a row-sized ``repartition(n, "url")`` measured no faster
  (ROADMAP.md, item 1);
* ``html`` stays ``BinaryType`` end-to-end JVM-side; bytes are decoded
  only inside the kernel with the pinned deterministic sniff, so no
  JVM re-encoding can break byte parity (BASELINE.json:14);
* columns are pruned explicitly before the kernel (the python-map
  stage consumes whole rows — Catalyst cannot prune through it);
* per-partition lineage counters ride along as cheap columns
  (pid/bytes_in and each batch's start and end time), are committed
  with the extracted rows, and are aggregated when read by
  ``plans.jobs.read_run_metrics`` — no Python accumulators (per-row,
  slow).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..algo.justext import extract_bytes

EXTRACTED_COLS = ["url", "warc_ts", "lang", "text", "n_paragraphs", "n_good", "status", "err"]

EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, text string, "
    "n_paragraphs int, n_good int, status string, err string, "
    "pid int, bytes_in long, t_unix_start double, t_unix double"
)

SPANS_SCHEMA = (
    "url string, idx int, text string, class_cf string, class_final string, "
    "link_density double, stopword_density double, word_count int, heading boolean"
)


_SALT = 8


def salted_repartition(pages: DataFrame, num_partitions: int) -> DataFrame:
    """Repartition by url-hash + one of ``_SALT`` salts so a hot host
    (many urls hashing near one another, or one url crawled many times)
    cannot pin a single Python worker (BASELINE.json:6 "partitions by
    url-hash with salting for skewed hosts"). Salting is safe here
    because E1 is stateless per row — no key-locality requirement."""
    return pages.repartition(
        num_partitions,
        F.pmod(F.xxhash64("url"), F.lit(num_partitions)),
        F.pmod(F.xxhash64("url", "warc_ts"), F.lit(_SALT)),
    )


def _extraction_kernel(pages: DataFrame, extract_fn) -> DataFrame:
    """Shared kernel plumbing for every extractor: pruned input, raw
    Arrow batches, per-partition lineage ride-alongs (pid/bytes_in,
    and the batch's start and end time as t_unix_start/t_unix),
    EXTRACT_SCHEMA output. ``extract_fn(raw, lang) ->
    ExtractionResult`` is the only per-extractor piece — jusText and
    textdensity must stay schema- and lineage-identical because
    extractor_ranking unions their scored outputs.

    ``mapInArrow`` rather than ``mapInPandas``: the kernel consumes
    Python ``bytes`` per row either way (``to_pylist`` on the binary
    column is the same materialization ``to_pandas`` does), but the
    pandas leg adds a DataFrame build + block consolidation on BOTH
    sides of every batch — 5.3 ms vs 1.6 ms per 525-row batch, about
    7 us/doc (measured on an earlier 32-core host, not re-measured on
    the 4-core one). The url/warc_ts/lang columns pass through as the
    original Arrow arrays, zero-copy."""
    pruned = pages.select("url", "warc_ts", "html", "lang")

    def extract_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        for batch in batches:
            start = time.time()
            names = batch.schema.names
            langs_arr = batch.column(names.index("lang"))
            raws = batch.column(names.index("html")).to_pylist()
            langs = langs_arr.to_pylist()
            text: list[str] = []
            npar: list[int] = []
            ngood: list[int] = []
            status: list[str] = []
            err: list[str | None] = []
            bytes_in: list[int] = []
            for raw, lang in zip(raws, langs, strict=True):
                res = extract_fn(raw, lang)
                text.append(res.text)
                npar.append(res.n_paragraphs)
                ngood.append(res.n_good)
                status.append(res.status)
                err.append(res.err)
                bytes_in.append(0 if raw is None else len(raw))
            now = time.time()
            k = batch.num_rows
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(names.index("url")),
                    batch.column(names.index("warc_ts")),
                    langs_arr,
                    pa.array(text, pa.string()),
                    pa.array(npar, pa.int32()),
                    pa.array(ngood, pa.int32()),
                    pa.array(status, pa.string()),
                    pa.array(err, pa.string()),
                    pa.array([pid] * k, pa.int32()),
                    pa.array(bytes_in, pa.int64()),
                    pa.array([start] * k, pa.float64()),
                    pa.array([now] * k, pa.float64()),
                ],
                names=["url", "warc_ts", "lang", "text", "n_paragraphs",
                       "n_good", "status", "err", "pid", "bytes_in",
                       "t_unix_start", "t_unix"],
            )

    return pruned.mapInArrow(extract_kernel, EXTRACT_SCHEMA)


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, lang, ...) -> extracted rows + lineage cols."""
    return _extraction_kernel(pages, extract_bytes)


def extracted_clean(extracted: DataFrame) -> DataFrame:
    """Drop the lineage ride-along columns for user-facing output."""
    return extracted.select(*EXTRACTED_COLS)


def extract_spans(pages: DataFrame) -> DataFrame:
    """Span-level parity output: one row per paragraph with context-free
    and final classes + features (FIXTURES.md §4 ``paragraphs``)."""
    pruned = pages.select("url", "html", "lang")

    def spans_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            names = batch.schema.names
            cols: tuple[list, ...] = ([], [], [], [], [], [], [], [], [])
            for url, raw, lang in zip(
                batch.column(names.index("url")).to_pylist(),
                batch.column(names.index("html")).to_pylist(),
                batch.column(names.index("lang")).to_pylist(),
                strict=True,
            ):
                res = extract_bytes(raw, lang)
                for cp in res.paragraphs:
                    for lst, v in zip(cols, (
                        url, cp.idx, cp.text, cp.class_cf, cp.class_final,
                        cp.link_density, cp.stopword_density, cp.word_count,
                        cp.heading,
                    ), strict=True):
                        lst.append(v)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cols[0], pa.string()),
                    pa.array(cols[1], pa.int32()),
                    pa.array(cols[2], pa.string()),
                    pa.array(cols[3], pa.string()),
                    pa.array(cols[4], pa.string()),
                    pa.array(cols[5], pa.float64()),
                    pa.array(cols[6], pa.float64()),
                    pa.array(cols[7], pa.int32()),
                    pa.array(cols[8], pa.bool_()),
                ],
                names=["url", "idx", "text", "class_cf", "class_final",
                       "link_density", "stopword_density", "word_count",
                       "heading"],
            )

    return pruned.mapInArrow(spans_kernel, SPANS_SCHEMA)


def extract_pages_density(pages: DataFrame) -> DataFrame:
    """Second extractor (densometric WSDM-2010 rules,
    algo/textdensity.py) through the identical kernel plumbing, so the
    evaluation layer can rank extractors like the reference harness."""
    from ..algo.textdensity import extract_bytes_density

    return _extraction_kernel(
        pages, lambda raw, _lang: extract_bytes_density(raw)
    )


def extract_pages_bte(pages: DataFrame) -> DataFrame:
    """Third extractor (BTE maximum-subarray body window, algo/bte.py)
    through the identical kernel plumbing — the structure-free baseline
    of the CleanEval-era comparisons, ranked against the DOM
    classifiers by extractor_ranking."""
    from ..algo.bte import extract_bytes_bte

    return _extraction_kernel(pages, lambda raw, _lang: extract_bytes_bte(raw))


def latest_crawl(pages: DataFrame) -> DataFrame:
    """Keep the newest crawl per url (W-dedup; SURVEY.md §2.10).

    row_number over (url, warc_ts desc) — a single shuffle on url, the
    one unavoidable wide dependency before extraction. The extraction
    kernels read its output as partitioned; AQE coalesces the shuffle by
    bytes, not rows, so on 4 cores ``ranking`` extracts in 3 tasks
    (perfbench/README.md, finding 8). No repartition follows: the
    stage is CPU-bound, and a row-sized ``repartition(n, "url")`` here
    measured no faster on that host (ROADMAP.md, item 1).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
