"""M1/M2 + J1 — scoring operators (SURVEY.md §2.4, §2.9, Appendix B).

J1: extracted ⋈ gold on url — gold is orders of magnitude smaller than
the page corpus (an annotated eval set), so it is broadcast: zero
shuffle of the extracted side.

M1 (LCS) / M2 (bag-of-words): per-document token alignment inside one
``mapInArrow`` kernel (same channel-cost rationale as the extraction
kernel in operators/extract.py — the kernel reads plain Python strings
per row, so the pandas leg's DataFrame build on both sides of every
batch is pure overhead), emitting both metric families side by side
plus raw token counters so dataset-level micro aggregates can be
recomputed relationally. A page whose extraction failed keeps its
``parse_error`` status (its metrics are those of its empty text), so the
report counts it as a failure, not as an empty extract.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..algo.justext import STATUS_PARSE_ERROR
from ..algo.metrics import score_texts

SCORES_SCHEMA = (
    "url string, extractor string, dataset string, "
    "precision double, recall double, f1 double, "
    "precision_bow double, recall_bow double, f1_bow double, "
    "matched long, matched_bow long, retrieved long, relevant long, "
    "status string"
)


def score_extracted(
    extracted: DataFrame,
    gold: DataFrame,
    extractor: str = "justext_spark",
) -> DataFrame:
    """scores(url, extractor, dataset, P/R/F1 x {lcs,bow}, counters, status)."""
    joined = extracted.select("url", "text", "status").join(
        F.broadcast(gold.select("url", "gold_text", "dataset")), "url", "inner"
    )

    def score_kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            names = batch.schema.names
            urls = batch.column(names.index("url"))
            texts = batch.column(names.index("text")).to_pylist()
            gtexts = batch.column(names.index("gold_text")).to_pylist()
            extract_status = batch.column(names.index("status")).to_pylist()
            ds_arr = batch.column(names.index("dataset"))
            scored = [
                score_texts(t or "", g or "")
                for t, g in zip(texts, gtexts, strict=True)
            ]
            k = batch.num_rows
            arrays = [
                urls,
                pa.array([extractor] * k, pa.string()),
                ds_arr,
                pa.array([s.precision for s in scored], pa.float64()),
                pa.array([s.recall for s in scored], pa.float64()),
                pa.array([s.f1 for s in scored], pa.float64()),
                pa.array([s.precision_bow for s in scored], pa.float64()),
                pa.array([s.recall_bow for s in scored], pa.float64()),
                pa.array([s.f1_bow for s in scored], pa.float64()),
                pa.array([s.matched for s in scored], pa.int64()),
                pa.array([s.matched_bow for s in scored], pa.int64()),
                pa.array([s.retrieved for s in scored], pa.int64()),
                pa.array([s.relevant for s in scored], pa.int64()),
                pa.array(
                    [STATUS_PARSE_ERROR if e == STATUS_PARSE_ERROR else s.status
                     for s, e in zip(scored, extract_status, strict=True)],
                    pa.string(),
                ),
            ]
            out_names = ["url", "extractor", "dataset",
                         "precision", "recall", "f1",
                         "precision_bow", "recall_bow", "f1_bow",
                         "matched", "matched_bow", "retrieved", "relevant",
                         "status"]
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return joined.mapInArrow(score_kernel, SCORES_SCHEMA)
