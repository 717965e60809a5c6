"""Seeded workload inputs, written once per seed and read back by the
program in every repetition.

The base corpus is fixed: ``N_BASE`` documents with the shape of the
``documents`` fixture (a closed 30-word vocabulary, 10-100 words per
document, five language labels, ``source = src{doc_id % 20}``),
generated from a constant seed. The benchmark's ``--seed`` decides which
base document each page draws and the url namespace of the drawn pages.

Draws are stratified by ``doc_id % 80``: every residue class gets the
same number of draws, so the synthesizer's template variant
(``doc_id % 16``) and second-crawl selector (``doc_id % 20``) mix is
the same on every seed and only the page text changes.

Pages and gold are built by the package's own synthesizer
(``sources.synth``, the Arrow path its Spark kernels use): pages once
for the base corpus, then copied under each drawn url.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from text_extraction_evaluation_spark.sources.synth import (
    synth_gold_batch,
    synth_pages_batch,
    url_for,
)

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
RESIDUES = 80  # lcm(16, 20): fixes both the variant and the second-crawl selector
N_BASE = 2000  # a multiple of RESIDUES
BASE_SEED = 42
N_FILES = 8  # input files per table: the scan's task count
EXTRACTORS = ("justext_spark", "textdensity", "bte")


def base_documents() -> pd.DataFrame:
    """documents(doc_id, text, lang, source) with dense ids 0..N_BASE-1."""
    rng = np.random.default_rng(BASE_SEED)
    n_words = rng.integers(10, 101, N_BASE)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    ends = np.cumsum(n_words)
    texts = [
        " ".join(VOCAB[w] for w in words[e - n : e])
        for n, e in zip(n_words, ends, strict=True)
    ]
    langs = rng.choice(len(LANGS), N_BASE, p=LANG_WEIGHTS)
    ids = np.arange(N_BASE, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[i] for i in langs],
            "source": [f"src{i % 20}" for i in ids],
        }
    )


def draw_base_ids(seed: int, n_draws: int) -> np.ndarray:
    """Base doc id of each drawn page, stratified by ``doc_id % RESIDUES``."""
    if n_draws % RESIDUES:
        raise ValueError(f"n_draws must be a multiple of {RESIDUES}, got {n_draws}")
    rng = np.random.default_rng(seed % 2**63)
    residue = np.arange(n_draws, dtype=np.int64) % RESIDUES
    return residue + RESIDUES * rng.integers(0, N_BASE // RESIDUES, n_draws)


def drawn_doc_ids(seed: int, base_ids: np.ndarray) -> np.ndarray:
    """Distinct page doc ids congruent to their base id mod RESIDUES.

    ``N_BASE`` is a multiple of RESIDUES, so adding multiples of it keeps
    the variant and the second-crawl selector. The namespace keeps
    timestamps (base + doc_id seconds) well inside year 9999."""
    ns = (seed % 100) * 200_000
    slot = ns + np.arange(len(base_ids), dtype=np.int64)
    return base_ids + slot * N_BASE


@dataclass(frozen=True)
class Inputs:
    """Paths of one seed's generated tables and the draw counts the
    expected report is weighted by."""

    root: str
    pages: str
    gold: str
    counts: np.ndarray  # draws per base doc id
    n_urls: int


def _docs_batch(docs: pd.DataFrame) -> pa.RecordBatch:
    return pa.RecordBatch.from_pandas(
        docs[["doc_id", "text", "lang", "source"]], preserve_index=False
    )


def _write_split(table: pa.Table, path: str) -> None:
    """Write ``table`` as N_FILES parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:03d}.parquet")


def _replicate_pages(base_pages: pa.Table, base_ids: np.ndarray, doc_ids: np.ndarray) -> pa.Table:
    """Copy each drawn base document's crawl rows under its new doc id.

    The synthesizer's paragraph chunking hashes the doc id, so pages are
    synthesized once for the base corpus and copied byte for byte: url
    and crawl time move to the new doc id (``url_for``; base time +
    doc_id seconds), html, text and lang stay. Each copy therefore
    extracts and scores exactly like its base document."""
    base_doc = np.array([int(u.rsplit("/", 1)[1]) for u in base_pages.column("url").to_pylist()])
    order = np.argsort(base_doc, kind="stable")
    first = np.searchsorted(base_doc[order], np.arange(N_BASE))
    n_rows = np.bincount(base_doc, minlength=N_BASE)
    take, new_ids = [], []
    for b, d in zip(base_ids, doc_ids, strict=True):
        for k in range(n_rows[b]):
            take.append(order[first[b] + k])
            new_ids.append(d)
    take = np.array(take)
    new_ids = np.array(new_ids, dtype=np.int64)
    shift_us = (new_ids - base_doc[take]) * 1_000_000
    ts = base_pages.column("warc_ts").take(take)
    sources = [f"src{d % 20}" for d in new_ids]
    return pa.table(
        {
            "url": pa.array([url_for(int(d), s) for d, s in zip(new_ids, sources, strict=True)], pa.string()),
            "warc_ts": pa.array(ts.cast(pa.int64()).to_numpy() + shift_us, pa.int64()).cast(ts.type),
            "html": base_pages.column("html").take(take),
            "text": base_pages.column("text").take(take),
            "lang": base_pages.column("lang").take(take),
        }
    )


def write_inputs(root: str, seed: int, base: pd.DataFrame, n_draws: int) -> Inputs:
    """Generate and write one seed's ``pages`` and ``gold`` under ``root``."""
    base_ids = draw_base_ids(seed, n_draws)
    doc_ids = drawn_doc_ids(seed, base_ids)
    picked = base.iloc[base_ids].reset_index(drop=True)
    picked["doc_id"] = doc_ids
    inputs = Inputs(
        root=root,
        pages=f"{root}/pages",
        gold=f"{root}/gold",
        counts=np.bincount(base_ids, minlength=N_BASE),
        n_urls=n_draws,
    )
    _write_split(pa.Table.from_batches([synth_gold_batch(_docs_batch(picked))]), inputs.gold)
    base_pages = pa.Table.from_batches([synth_pages_batch(_docs_batch(base))])
    _write_split(_replicate_pages(base_pages, base_ids, doc_ids), inputs.pages)
    return inputs
