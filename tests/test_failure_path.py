"""The extractors' one failure path (``algo/justext.py``
``decode_and_extract``): a page that cannot be decoded or parsed comes
back as a ``parse_error`` row with the exception in ``err`` — in the
algo layer and through the Spark kernels — never as a partial page
labelled ``ok`` and never as a failed job."""

from __future__ import annotations

import datetime as dt
import signal

import pytest

from text_extraction_evaluation_spark.algo import htmlseg
from text_extraction_evaluation_spark.algo.bte import extract_bytes_bte
from text_extraction_evaluation_spark.algo.justext import extract_bytes
from text_extraction_evaluation_spark.algo.textdensity import extract_bytes_density

EXTRACTORS = {
    "justext": lambda raw: extract_bytes(raw, "en"),
    "density": extract_bytes_density,
    "bte": extract_bytes_bte,
}

# A first paragraph every extractor keeps (56 words, half of them on
# the synthetic stoplist), then a script and a second paragraph.
_FIRST = "<p>" + " ".join(["the", "row", "scan", "data"] * 14) + "</p>"
PAGE = (_FIRST + "<script>var x = 1;</script><p>second paragraph</p>").encode()


class _PlantedFault:
    """Stands in for the lexer's ``</script>`` search."""

    def search(self, text, pos):
        raise RuntimeError("planted lexer fault")


@pytest.mark.parametrize("name", list(EXTRACTORS))
def test_null_html_is_parse_error(name):
    res = EXTRACTORS[name](None)
    assert res.status == "parse_error"
    assert res.err.startswith("TypeError(")
    assert (res.text, res.n_paragraphs, res.n_good) == ("", 0, 0)


@pytest.mark.parametrize("name", list(EXTRACTORS))
def test_lexer_fault_after_first_paragraph_is_parse_error(name, monkeypatch):
    assert EXTRACTORS[name](PAGE).status == "ok"
    monkeypatch.setitem(htmlseg._RAWTEXT_CLOSE_RES, "script", _PlantedFault())
    res = EXTRACTORS[name](PAGE)
    # not the first paragraph labelled ok
    assert res.status == "parse_error"
    assert res.err == repr(RuntimeError("planted lexer fault"))
    assert res.text == ""


def test_unterminated_tag_is_dropped_in_linear_time():
    # a page cut off inside a long tag: the quote-aware tag pattern
    # must fail fast, not backtrack exponentially in the tag's length
    def timeout(signum, frame):
        raise TimeoutError("lexer backtracking")

    old = signal.signal(signal.SIGALRM, timeout)
    signal.alarm(10)
    try:
        for tail in ("<img src=" + "a" * 100_000, "<" + "a" * 100_000,
                     '<a title="' + "a" * 100_000):
            page = "<p>kept text</p>" + tail
            assert [p.text for p in htmlseg.segment(page)] == ["kept text"]
            assert extract_bytes_bte(page.encode()).text == "kept text"
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


def test_null_html_row_through_the_spark_kernels(spark):
    """One null ``html`` row comes back ``parse_error`` (and counts 0
    bytes in) while the job and the other rows go on, for all three
    extractor operators."""
    from text_extraction_evaluation_spark.operators.extract import (
        extract_pages,
        extract_pages_bte,
        extract_pages_density,
    )

    ts = dt.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [("u0", ts, PAGE, "en"), ("u1", ts, None, "en"), ("u2", ts, PAGE, "en")],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    for op in (extract_pages, extract_pages_density, extract_pages_bte):
        got = {r.url: r for r in op(pages).collect()}
        assert got["u1"].status == "parse_error", op.__name__
        assert got["u1"].err.startswith("TypeError("), op.__name__
        assert got["u1"].bytes_in == 0
        for url in ("u0", "u2"):
            assert got[url].status == "ok", op.__name__
            assert got[url].err is None
            assert got[url].bytes_in == len(PAGE)


def test_parse_error_is_a_report_failure(spark, docs_pdf):
    """A page whose extraction failed keeps ``parse_error`` through
    scoring, so the report counts it in ``n_fail`` and not in
    ``n_empty`` (its metrics are those of its empty text), in Spark and
    in the oracle alike."""
    from pyspark.sql import functions as F

    from oracle.run_oracle import (
        oracle_extract,
        oracle_gold,
        oracle_latest_crawl,
        oracle_pages,
        oracle_report,
        oracle_scores,
    )
    from tests.conftest import SF0001
    from text_extraction_evaluation_spark.operators.extract import (
        extract_pages,
        latest_crawl,
    )
    from text_extraction_evaluation_spark.operators.report import report
    from text_extraction_evaluation_spark.operators.score import score_extracted
    from text_extraction_evaluation_spark.sources.readers import gold_df, pages_df

    pages_o, gold_o = oracle_pages(docs_pdf), oracle_gold(docs_pdf)
    url = min(set(pages_o["url"]) & set(gold_o["url"]))
    pages_o.loc[pages_o["url"] == url, "html"] = None
    scores_o = oracle_scores(oracle_extract(oracle_latest_crawl(pages_o)), gold_o)

    pages = pages_df(spark, SF0001).withColumn(
        "html",
        F.when(F.col("url") == url, F.lit(None).cast("binary")).otherwise(F.col("html")),
    )
    scores = score_extracted(extract_pages(latest_crawl(pages)), gold_df(spark, SF0001))
    scores = scores.cache()
    try:
        got = {r.url: r for r in scores.collect()}
        rep = {(r.extractor, r.dataset): r for r in report(scores).collect()}
    finally:
        scores.unpersist()

    assert got[url].status == "parse_error"
    assert got[url].retrieved == 0
    assert {u: r.status for u, r in got.items()} == dict(
        zip(scores_o["url"], scores_o["status"], strict=True)
    )
    dataset = got[url].dataset
    same = [r for r in got.values() if r.dataset == dataset]
    n_no_gold = sum(r.status == "no_gold" for r in same)
    row = rep[("justext_spark", dataset)]
    assert row.n_fail == 1 + n_no_gold
    assert row.n_empty == sum(r.retrieved == 0 for r in same) - 1
    want = oracle_report(scores_o).set_index(["extractor", "dataset"])
    for key, r in rep.items():
        assert (r.n_ok, r.n_empty, r.n_fail) == tuple(
            want.loc[key, ["n_ok", "n_empty", "n_fail"]]
        ), key
