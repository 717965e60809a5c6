"""Token-level P/R/F1 scoring: LCS alignment + bag-of-words overlap.

Reimplements the reference's evaluation core (BASELINE.json:6:
"per-document precision/recall/F1 scoring against gold-standard text
via longest-common-subsequence token alignment and bag-of-words
overlap"). The LCS mode uses ``difflib.SequenceMatcher`` over token
sequences (ordered, non-crossing alignment — exactly the matched-block
semantics the reference's evaluator produced); the bag-of-words mode
is multiset intersection. Pure Python, zero Spark imports.

``score_texts`` skips both matchers when the answer is known from the
token lists alone, and each short-cut gives exactly what the matchers
would, whether the LCS mode is ``SequenceMatcher`` or a true longest
common subsequence:

* *equal lists*: every matcher matches all ``n`` tokens;
* *containment*: the shorter list occurs as a contiguous run in the
  longer one. Then LCS matched = BoW matched = the shorter length
  ``k``. No common subsequence or sub-multiset is longer than ``k``,
  and the run itself is one of length ``k``. ``SequenceMatcher``
  (no junk, ``autojunk=False``) first takes a longest common block.
  That block has length ``k``, so it covers the whole shorter list and
  nothing is left to match on either side of it.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass
from difflib import SequenceMatcher

from .tokenize import tokens

STATUS_OK = "ok"
STATUS_EMPTY = "empty"  # retrieved empty
STATUS_NO_GOLD = "no_gold"  # relevant empty


@dataclass(frozen=True)
class DocScore:
    precision: float
    recall: float
    f1: float
    precision_bow: float
    recall_bow: float
    f1_bow: float
    matched: int
    matched_bow: int
    retrieved: int
    relevant: int
    status: str


def _prf(matched: int, retrieved: int, relevant: int) -> tuple[float, float, float]:
    precision = matched / retrieved if retrieved else 0.0
    recall = matched / relevant if relevant else 0.0
    f1 = (2 * precision * recall / (precision + recall)) if (precision + recall) else 0.0
    return precision, recall, f1


def lcs_matched(retrieved: list[str], relevant: list[str]) -> int:
    """Total size of SequenceMatcher matching blocks (LCS-style
    ordered alignment). autojunk disabled: the b-side popularity
    heuristic silently drops frequent tokens on 200+-element sequences,
    which would make scores length-dependent."""
    if not retrieved or not relevant:
        return 0
    sm = SequenceMatcher(None, retrieved, relevant, autojunk=False)
    return sum(block.size for block in sm.get_matching_blocks())


def bow_matched(retrieved: list[str], relevant: list[str]) -> int:
    """Multiset intersection size."""
    if not retrieved or not relevant:
        return 0
    cr = Counter(retrieved)
    cg = Counter(relevant)
    return sum(min(n, cg[t]) for t, n in cr.items() if t in cg)


def _contains(short: list[str], long: list[str]) -> bool:
    """True iff ``short`` occurs as a contiguous run in ``long``. One
    substring test on the space-joined lists, padded with a space at
    both ends: ``tokens`` splits on whitespace, so no token is empty or
    holds a space, and a match between padding spaces covers whole
    tokens only."""
    return not short or f" {' '.join(short)} " in f" {' '.join(long)} "


def score_texts(extracted_text: str, gold_text: str) -> DocScore:
    retrieved = tokens(extracted_text)
    relevant = tokens(gold_text)
    short, long = sorted((retrieved, relevant), key=len)
    if retrieved == relevant or _contains(short, long):
        # the two fast paths of the module docstring, exact for
        # SequenceMatcher and for a true LCS alike: equal lists match
        # in full, and a shorter list that is a contiguous run of the
        # longer one matches in full on both measures. They skip both
        # O(n*m) passes on a well-extracted page and on one whose
        # extract is a clean slice of gold (or gold of the extract).
        m_lcs = m_bow = len(short)
    else:
        m_lcs = lcs_matched(retrieved, relevant)
        m_bow = bow_matched(retrieved, relevant)
    p, r, f1 = _prf(m_lcs, len(retrieved), len(relevant))
    pb, rb, f1b = _prf(m_bow, len(retrieved), len(relevant))
    if not retrieved:
        status = STATUS_EMPTY
    elif not relevant:
        status = STATUS_NO_GOLD
    else:
        status = STATUS_OK
    return DocScore(
        precision=p, recall=r, f1=f1,
        precision_bow=pb, recall_bow=rb, f1_bow=f1b,
        matched=m_lcs, matched_bow=m_bow,
        retrieved=len(retrieved), relevant=len(relevant),
        status=status,
    )
