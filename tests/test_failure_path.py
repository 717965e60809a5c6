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
