"""BTE third extractor: hand-computed maximum-subarray cases, the
semantics it reads from the shared lexer, and Spark-kernel ==
pandas-oracle byte parity."""

from __future__ import annotations

import pytest

from text_extraction_evaluation_spark.algo.bte import (
    extract_text_bte,
    tokenize,
)
from tests.conftest import SF0001


def test_kadane_hand_case():
    # token stream: tag w tag tag w w w tag w  -> values
    #               -1 +1 -1 -1 +1 +1 +1 -1 +1
    # best window is words 2-4 (sum 3); the trailing "w" after one tag
    # extends it (3-1+1=3, tie -> earliest kept)
    html = "<p>nav</p><hr>one two three<br>four"
    r = extract_text_bte(html)
    assert r.text == "one two three"
    assert r.n_paragraphs == 5  # nav one two three four
    assert r.n_good == 3
    assert r.status == "ok"


def test_tie_resolves_to_earliest_window():
    # two equal-sum windows separated by two tags: first one wins
    html = "a b<br><br>c d"
    assert extract_text_bte(html).text == "a b"


def test_all_negative_extracts_empty():
    assert extract_text_bte("<p><br><hr>").status == "empty"
    assert extract_text_bte("").status == "empty"


def test_opaque_content_skipped():
    words, n_tags = tokenize(
        "<title>skip these words</title><script>var x='and these';</script>body text"
    )
    assert words == ["body", "text"]
    # title open+close, script open+close
    assert n_tags == 4


def test_unterminated_opaque_swallows_tail():
    words, _ = tokenize("keep <script>never closed so all this is opaque")
    assert words == ["keep"]


def test_comment_doctype_cdata_are_single_tags():
    words, n_tags = tokenize(
        "<!DOCTYPE html><!-- a comment with words --><![CDATA[raw < stuff]]>hello"
    )
    assert words == ["hello"]
    assert n_tags == 3


def test_entities_decoded_in_words():
    words, _ = tokenize("<p>fish&nbsp;&amp;&nbsp;chips</p>")
    assert words == ["fish", "&", "chips"]


# How BTE reads edge-case markup through the shared lexer:
# (html, (words, tag-token count)).
LEXER_CASES = [
    # a quoted '>' does not end the tag
    ('<a title="x>y">link</a> text', (["link", "text"], 2)),
    # <svg/> has no content to skip; the rest of the page stays
    ("<p>a</p><svg/><p>b c</p>", (["a", "b", "c"], 5)),
    # skipped content ends at its close tag, or runs to EOF
    ("<noscript><p>no js</p></noscript>body", (["body"], 2)),
    ("<svg><text>x</text></svg>body<math>y z", (["body"], 3)),
    # a bogus end tag is one markup token
    ("a</ x>b", (["a", "b"], 1)),
    # HTML5 bogus-comment rule: <![CDATA[ ... ends at the first '>'
    ("<![CDATA[a > b]]>c", (["b]]>c"], 1)),
    # markup cut off at EOF drops the rest of the page
    ('<p>kept</p><a title="x>rest of page', (["kept"], 2)),
    ("<p>kept</p>tail <div class=x", (["kept", "tail"], 2)),
    # CPython 3.11 HTMLParser rule (the fuzz reference), not HTML5
    ("<script>x</script foo>y", ([], 2)),
]


@pytest.mark.parametrize(("html", "want"), LEXER_CASES)
def test_shared_lexer_edge_cases(html, want):
    assert tokenize(html) == want


def test_kadane_is_optimal_vs_brute_force():
    """Property: the selected window's objective (words-in + tags-out)
    equals the brute-force O(n^2) maximum over all windows (and the
    empty window), on randomized small token streams."""
    import itertools
    import random

    rng = random.Random(7)
    for _ in range(200):
        n = rng.randint(0, 14)
        kinds = [rng.choice("wt") for _ in range(n)]
        # build html: words are w0 w1 ...; tags are <br>
        parts, widx = [], 0
        for k in kinds:
            if k == "w":
                parts.append(f"w{widx} ")
                widx += 1
            else:
                parts.append("<br>")
        html = "".join(parts)
        vals = [1 if k == "w" else -1 for k in kinds]
        brute = 0
        for i, j in itertools.combinations(range(len(vals) + 1), 2):
            brute = max(brute, sum(vals[i:j]))
        r = extract_text_bte(html)
        got = r.n_good  # within the chosen window only words contribute
        # objective value of the chosen window = n_good - tags_in; the
        # extractor doesn't expose tags_in, but optimal sum == n_good
        # of an all-word window iff Kadane picked right; recompute from
        # the returned text against the brute optimum:
        # a maximal window never starts/ends with a tag, so its sum is
        # (#words in window) - (#tags strictly inside). Reconstruct by
        # locating the kept words in order.
        kept = r.text.split() if r.text else []
        if kept:
            first = int(kept[0][1:])
            last = int(kept[-1][1:])
            # positions in the token stream of word-first..word-last
            wpos = [i for i, k in enumerate(kinds) if k == "w"]
            lo, hi = wpos[first], wpos[last]
            got_sum = sum(vals[lo : hi + 1])
        else:
            got_sum = 0
        assert got_sum == brute, (kinds, r.text)
        assert len(kept) == r.n_good


def test_bte_extractor_parity(spark, docs_pdf):
    """Third extractor: Spark kernel output is byte-identical to the
    pandas oracle twin, same gate as jusText and textdensity."""
    from oracle.run_oracle import (
        oracle_extract_bte,
        oracle_latest_crawl,
        oracle_pages,
    )
    from text_extraction_evaluation_spark.operators.extract import (
        extract_pages_bte,
        extracted_clean,
        latest_crawl,
    )
    from text_extraction_evaluation_spark.sources.readers import pages_df

    pages = pages_df(spark, SF0001, n_partitions=8)
    got = (
        extracted_clean(extract_pages_bte(latest_crawl(pages)))
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    want = (
        oracle_extract_bte(oracle_latest_crawl(oracle_pages(docs_pdf)))
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert list(got["url"]) == list(want["url"])
    mism = [
        u
        for u, a, b in zip(got["url"], got["text"], want["text"], strict=True)
        if a.encode() != b.encode()
    ]
    assert not mism, f"{len(mism)} urls differ; first: {mism[0]!r}"
    for col in ("status", "n_paragraphs", "n_good"):
        assert list(got[col]) == list(want[col]), col
