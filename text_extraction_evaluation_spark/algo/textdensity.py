"""Densometric main-content extractor (the engine's second extractor).

Reimplements, from the published description, the shallow-text-feature
decision rules of Kohlschuetter/Fankhauser/Nejdl, "Boilerplate
Detection Using Shallow Text Features" (WSDM 2010) — the classifier
popularly known as boilerpipe's NumWordsRules: a block is content or
boilerplate based only on its own and its neighbours' word counts and
link densities. No stoplists, no language dependence — a deliberately
different operating point from jusText, so the evaluation layer's
extractor RANKING (ranked_report) compares two real extractors exactly
like the reference harness compared its candidates.

Pure Python, zero Spark imports; shares the DOM segmenter
(algo/htmlseg.py) and the encoding sniff with the jusText path, and is
executed identically by the Arrow kernel and the parity oracle.
"""

from __future__ import annotations

from .htmlseg import Paragraph, segment
from .justext import STATUS_EMPTY, STATUS_OK, ExtractionResult, decode_and_extract

CONTENT = "content"
BOILERPLATE = "boilerplate"

# Published thresholds (WSDM 2010, decision-tree stumps).
_MAX_LINK_DENSITY = 0.333333
_PREV_LINK_DENSITY = 0.555556


def _classify_block(
    prev_words: int,
    prev_ld: float,
    curr_words: int,
    curr_ld: float,
    next_words: int,
) -> str:
    """The NumWordsRules decision list: first matching leaf wins."""
    if curr_ld > _MAX_LINK_DENSITY:
        return BOILERPLATE
    if prev_ld <= _PREV_LINK_DENSITY:
        if curr_words <= 16:
            if next_words <= 15:
                return BOILERPLATE if prev_words <= 4 else CONTENT
            return CONTENT
        return CONTENT
    if curr_words <= 40:
        return BOILERPLATE if next_words <= 17 else CONTENT
    return CONTENT


def classify_density(paragraphs: list[Paragraph]) -> list[str]:
    """Per-block content/boilerplate labels. Virtual empty blocks
    (0 words, 0 link density) bound the sequence, as in the paper's
    sliding-window formulation."""
    n = len(paragraphs)
    words = [len(p.words) for p in paragraphs]
    lds = [p.link_density for p in paragraphs]
    out = []
    for i in range(n):
        pw = words[i - 1] if i > 0 else 0
        pld = lds[i - 1] if i > 0 else 0.0
        nw = words[i + 1] if i + 1 < n else 0
        out.append(_classify_block(pw, pld, words[i], lds[i], nw))
    return out


def extract_text_density(html_text: str) -> ExtractionResult:
    """html string -> main-content text ('\\n\\n'-joined content blocks)."""
    paragraphs = segment(html_text)
    classes = classify_density(paragraphs)
    good = [p.text for p, c in zip(paragraphs, classes) if c == CONTENT]
    text = "\n\n".join(good)
    return ExtractionResult(
        text=text,
        paragraphs=[],
        n_paragraphs=len(paragraphs),
        n_good=len(good),
        status=STATUS_OK if text else STATUS_EMPTY,
    )


def extract_bytes_density(raw: bytes) -> ExtractionResult:
    """Raw page bytes -> ExtractionResult via the same deterministic
    charset sniff as the jusText path (bytes never decoded JVM-side)."""
    return decode_and_extract(raw, extract_text_density)
