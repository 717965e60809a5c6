"""Pinned single-process oracle (SURVEY.md §5.2).

The reference binary is unavailable (empty checkout — SURVEY.md §0),
so THIS is the parity target mandated by BASELINE.json:14
("byte-identical extracted text per url"): a plain pandas loop driving
the exact same algorithm modules the Spark Arrow kernels import. The
parity pytest asserts the distributed pipeline reproduces the oracle
doc-by-doc, which exercises everything Spark adds (Arrow round-trips,
binary columns, partitioning, dedup windows, joins, aggregation).
Golden files frozen from this oracle guard against silent algorithm
drift (tests/golden/).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd

from text_extraction_evaluation_spark.algo.bte import extract_bytes_bte
from text_extraction_evaluation_spark.algo.justext import (
    STATUS_PARSE_ERROR,
    ExtractionResult,
    extract_bytes,
)
from text_extraction_evaluation_spark.algo.metrics import score_texts
from text_extraction_evaluation_spark.algo.textdensity import extract_bytes_density
from text_extraction_evaluation_spark.sources.synth import (
    synth_gold_pdf,
    synth_pages_pdf,
)


def oracle_pages(docs: pd.DataFrame) -> pd.DataFrame:
    return synth_pages_pdf(docs)


def oracle_gold(docs: pd.DataFrame) -> pd.DataFrame:
    return synth_gold_pdf(docs)


def oracle_latest_crawl(pages: pd.DataFrame) -> pd.DataFrame:
    return (
        pages.sort_values(["url", "warc_ts"], kind="mergesort")
        .groupby("url", as_index=False)
        .tail(1)
        .reset_index(drop=True)
    )


def _oracle_extract_rows(
    pages: pd.DataFrame, extract: Callable[[bytes, str], ExtractionResult]
) -> pd.DataFrame:
    """One row per page through ``extract(raw, lang) -> ExtractionResult``."""
    rows = []
    for url, ts, raw, lang in zip(
        pages["url"], pages["warc_ts"], pages["html"], pages["lang"], strict=True
    ):
        res = extract(raw, lang)
        rows.append((url, ts, lang, res.text, res.n_paragraphs, res.n_good,
                     res.status, res.err))
    return pd.DataFrame(
        rows,
        columns=["url", "warc_ts", "lang", "text", "n_paragraphs", "n_good",
                 "status", "err"],
    )


def oracle_extract(pages: pd.DataFrame) -> pd.DataFrame:
    return _oracle_extract_rows(pages, extract_bytes)


def oracle_extract_density(pages: pd.DataFrame) -> pd.DataFrame:
    """Second-extractor twin (densometric rules, algo/textdensity.py)."""
    return _oracle_extract_rows(pages, lambda raw, _lang: extract_bytes_density(raw))


def oracle_extract_bte(pages: pd.DataFrame) -> pd.DataFrame:
    """Third-extractor twin (BTE maximum-subarray window, algo/bte.py)."""
    return _oracle_extract_rows(pages, lambda raw, _lang: extract_bytes_bte(raw))


def oracle_spans(pages: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for url, raw, lang in zip(pages["url"], pages["html"], pages["lang"], strict=True):
        res = extract_bytes(raw, lang)
        for cp in res.paragraphs:
            rows.append((url, cp.idx, cp.text, cp.class_cf, cp.class_final,
                         cp.link_density, cp.stopword_density, cp.word_count,
                         cp.heading))
    return pd.DataFrame(
        rows,
        columns=["url", "idx", "text", "class_cf", "class_final",
                 "link_density", "stopword_density", "word_count", "heading"],
    )


def oracle_scores(
    extracted: pd.DataFrame, gold: pd.DataFrame, extractor: str = "justext_spark"
) -> pd.DataFrame:
    g = gold.set_index("url")
    rows = []
    for url, text, status in zip(
        extracted["url"], extracted["text"], extracted["status"], strict=True
    ):
        if url not in g.index:
            continue
        grow = g.loc[url]
        s = score_texts(text or "", grow["gold_text"] or "")
        rows.append(
            (url, extractor, grow["dataset"],
             s.precision, s.recall, s.f1,
             s.precision_bow, s.recall_bow, s.f1_bow,
             s.matched, s.matched_bow, s.retrieved, s.relevant,
             STATUS_PARSE_ERROR if status == STATUS_PARSE_ERROR else s.status)
        )
    return pd.DataFrame(
        rows,
        columns=["url", "extractor", "dataset",
                 "precision", "recall", "f1",
                 "precision_bow", "recall_bow", "f1_bow",
                 "matched", "matched_bow", "retrieved", "relevant", "status"],
    )


def oracle_report(scores: pd.DataFrame) -> pd.DataFrame:
    out = []
    for (extractor, ds), grp in scores.groupby(["extractor", "dataset"], sort=True):
        ok = grp[grp["status"] == "ok"]
        out.append(
            {
                "extractor": extractor,
                "dataset": ds,
                "avg_precision": ok["precision"].mean() if len(ok) else None,
                "avg_recall": ok["recall"].mean() if len(ok) else None,
                "avg_f1": ok["f1"].mean() if len(ok) else None,
                "std_f1": ok["f1"].std(ddof=1) if len(ok) > 1 else None,
                "n_ok": len(ok),
                "n_empty": int((grp["status"] == "empty").sum()),
                "n_fail": int((~grp["status"].isin(["ok", "empty"])).sum()),
            }
        )
    return pd.DataFrame(out)


def run_oracle(documents_parquet: str) -> dict[str, pd.DataFrame]:
    """End-to-end single-process run; returns every intermediate."""
    docs = pd.read_parquet(documents_parquet)
    pages = oracle_pages(docs)
    gold = oracle_gold(docs)
    latest = oracle_latest_crawl(pages)
    extracted = oracle_extract(latest)
    scores = oracle_scores(extracted, gold)
    rep = oracle_report(scores)
    return {
        "pages": pages,
        "gold": gold,
        "latest": latest,
        "extracted": extracted,
        "scores": scores,
        "report": rep,
    }


if __name__ == "__main__":
    import sys

    res = run_oracle(sys.argv[1] if len(sys.argv) > 1 else
                     "/root/testdata/sf0.001/documents.parquet")
    print(res["report"].to_string())
