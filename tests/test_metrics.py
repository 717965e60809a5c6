"""Unit tests for LCS/BoW scoring (SURVEY.md Appendix B)."""

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from text_extraction_evaluation_spark.algo import metrics
from text_extraction_evaluation_spark.algo.metrics import (
    bow_matched,
    lcs_matched,
    score_texts,
)


def test_identical_texts_perfect():
    s = score_texts("a b c d", "a b c d")
    assert s.precision == s.recall == s.f1 == 1.0
    assert s.f1_bow == 1.0
    assert s.matched == s.retrieved == s.relevant == 4
    assert s.status == "ok"


def test_empty_retrieved():
    s = score_texts("", "a b")
    assert s.precision == s.recall == s.f1 == 0.0
    assert s.status == "empty"


def test_empty_gold():
    s = score_texts("a b", "")
    assert s.status == "no_gold"
    assert s.f1 == 0.0


def test_lcs_respects_order():
    # reversed tokens: LCS = 1, bag = 3
    assert lcs_matched(["a", "b", "c"], ["c", "b", "a"]) == 1
    assert bow_matched(["a", "b", "c"], ["c", "b", "a"]) == 3


def test_bow_multiset_min():
    assert bow_matched(["a", "a", "a"], ["a", "a"]) == 2


def test_partial_overlap_scores():
    s = score_texts("x a b c", "a b c y")
    assert s.matched == 3
    assert math.isclose(s.precision, 3 / 4)
    assert math.isclose(s.recall, 3 / 4)
    assert math.isclose(s.f1, 0.75)


def test_autojunk_disabled_on_long_sequences():
    # 300 repeats of one token: with autojunk the popular token would be
    # junked and matched==0; we require full match
    toks = " ".join(["tok"] * 300)
    s = score_texts(toks, toks)
    assert s.f1 == 1.0 and s.matched == 300


def test_unicode_nfc_normalization():
    # e + combining acute vs precomposed é must match
    s = score_texts("café", "café")
    assert s.f1 == 1.0


# -- fast paths ----------------------------------------------------------------

# Tokens over a 3-letter alphabet, one or two letters long, so that a token
# can be a substring of another ("a" in "ab") without being equal to it.
TOKEN_LISTS = st.lists(st.text(alphabet="abc", min_size=1, max_size=2), max_size=12)


@st.composite
def token_pairs(draw):
    """(retrieved, relevant) token lists; half of them nested: one list is
    a contiguous run ``b`` of the other, ``x + b + y``."""
    b = draw(TOKEN_LISTS)
    if draw(st.booleans()):
        return b, draw(TOKEN_LISTS)
    outer = draw(TOKEN_LISTS) + b + draw(TOKEN_LISTS)
    return (b, outer) if draw(st.booleans()) else (outer, b)


def _true_lcs(a, b):
    """O(n*m) longest common subsequence length."""
    row = [0] * (len(b) + 1)
    for x in a:
        prev_diag = 0
        for j, y in enumerate(b, 1):
            prev_diag, row[j] = row[j], (prev_diag + 1 if x == y else max(row[j], row[j - 1]))
    return row[-1]


@settings(max_examples=400, deadline=None)
@given(token_pairs())
def test_score_texts_equals_slow_path(pair):
    retrieved, relevant = pair
    s = score_texts(" ".join(retrieved), " ".join(relevant))
    assert s.matched == lcs_matched(retrieved, relevant)
    assert s.matched_bow == bow_matched(retrieved, relevant)
    assert (s.retrieved, s.relevant) == (len(retrieved), len(relevant))


@settings(max_examples=200, deadline=None)
@given(TOKEN_LISTS, TOKEN_LISTS, TOKEN_LISTS)
def test_containment_is_exact_for_a_true_lcs(x, b, y):
    # the short-cut must survive swapping SequenceMatcher for a true LCS
    s = score_texts(" ".join(b), " ".join(x + b + y))
    assert s.matched == s.matched_bow == len(b) == _true_lcs(b, x + b + y)


def test_nested_pair_skips_both_matchers(monkeypatch):
    def boom(*_args):
        raise AssertionError("slow path taken")

    monkeypatch.setattr(metrics, "lcs_matched", boom)
    monkeypatch.setattr(metrics, "bow_matched", boom)
    s = score_texts("b c", "a b c d")
    assert (s.matched, s.matched_bow, s.retrieved, s.relevant) == (2, 2, 2, 4)
    assert math.isclose(s.recall, 0.5) and s.precision == 1.0
    s = score_texts("x a b c d y", "a b c d")
    assert (s.matched, s.matched_bow) == (4, 4)


def test_containment_matches_whole_tokens_only():
    # "b c" is a substring of "ab c" but not a run of its tokens
    s = score_texts("b c", "ab c")
    assert (s.matched, s.matched_bow) == (1, 1)
