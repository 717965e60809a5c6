"""Body Text Extraction (BTE) — the engine's third extractor.

Reimplements, from the published description, the BTE heuristic of
Finn, Kushmerick & Smyth (2001, "Fact or fiction: Content
classification for digital libraries"): view the page as one stream
of tag tokens and word tokens and select the single contiguous
window [i, j] maximizing

    T(i, j) = tags_before(i) + words_in(i, j) + tags_after(j).

Since tags_before + tags_after = total_tags - tags_in, T is
total_tags + sum over the window of (+1 per word, -1 per tag) — so
the optimum window is a maximum-subarray problem and Kadane's
algorithm finds it in O(tokens). No DOM, no thresholds, no language
dependence: BTE is the classic structure-free baseline the
CleanEval-era extractor comparisons (the reference harness's
published lineage) ran against DOM classifiers like jusText, which
is exactly the role it plays in this engine's extractor ranking.

Pure Python, zero Spark imports; reads the event stream of the one
HTML lexer (``algo/htmlseg.py``) and shares the charset sniff and the
failure path with the other extractors (``algo/justext.py``
``decode_and_extract``). The Arrow kernel and the parity oracle run it
identically, so extracted bytes are identical by construction.

Determinism contract:

* the lexer's rules hold (``algo/htmlseg.py`` module docstring): a
  quoted ``>`` does not end a tag, ``script/style/textarea/title``
  content is raw text, markup cut off at EOF drops the rest of the page;
* one tag token per start, end or self-closing tag and per markup
  event (comment, doctype/PI/CDATA, bogus end tag);
* adjacent data events are joined, then whitespace-split into word
  tokens (the lexer has decoded entities);
* the content of ``noscript/iframe/svg/math`` yields no tokens up to
  the first matching close tag, which counts as one tag token (to EOF
  if there is none); raw-text elements yield just their two tag
  tokens;
* Kadane ties resolve to the EARLIEST window: the best window is
  replaced only by a strictly greater sum, and the running window
  restarts only when its sum drops below zero;
* a page with no positive-sum window (or no words at all) extracts
  empty.

``ExtractionResult`` field semantics for this extractor:
``n_paragraphs`` = total word tokens scanned, ``n_good`` = word
tokens inside the selected body window (BTE has no paragraph
notion).
"""

from __future__ import annotations

from functools import partial

from .htmlseg import _RAWTEXT_TAGS, _SKIP_CONTENT_TAGS, _fast_scan
from .justext import STATUS_EMPTY, STATUS_OK, ExtractionResult, decode_and_extract

# Elements whose content the lexer tokenizes but BTE drops: the
# segmenter's skip set minus the raw-text elements (the lexer skips
# their content itself) and minus head (BTE counts its tags like any).
_SKIP_TAGS = _SKIP_CONTENT_TAGS - _RAWTEXT_TAGS - {"head"}


class _TokenSink:
    """Lexer sink -> ``toks``: a ``str`` per data event, ``None`` per
    tag token. Data and markup events append without a Python frame
    (bound C methods); skipped content is truncated at its close tag."""

    __slots__ = ("toks", "handle_data", "handle_markup", "_skip", "_skip_from")

    def __init__(self) -> None:
        self.toks: list[str | None] = []
        self.handle_data = self.toks.append
        self.handle_markup = partial(self.toks.append, None)
        self._skip: str | None = None
        self._skip_from = 0

    def handle_starttag(self, tag: str) -> None:
        self.toks.append(None)
        if self._skip is None and tag in _SKIP_TAGS:
            self._skip = tag
            self._skip_from = len(self.toks)

    def handle_endtag(self, tag: str) -> None:
        if tag == self._skip:
            del self.toks[self._skip_from :]
            self._skip = None
        self.toks.append(None)

    def handle_startendtag(self, tag: str) -> None:
        self.toks.append(None)

    def finish(self) -> list[str | None]:
        if self._skip is not None:
            del self.toks[self._skip_from :]
        return self.toks


def _tokens(html_text: str) -> list[str | None]:
    sink = _TokenSink()
    _fast_scan(html_text, sink)
    return sink.finish()


def tokenize(html_text: str) -> tuple[list[str], int]:
    """html -> (word tokens in document order, total tag-token count).
    Test/inspection helper over the token stream the extractor reads."""
    toks = _tokens(html_text)
    words = "".join([" " if t is None else t for t in toks]).split()
    return words, toks.count(None)


def extract_text_bte(html_text: str) -> ExtractionResult:
    """html string -> body text (space-joined words of the best window)."""
    # Kadane over the interleaved stream, +1 per word and -1 per tag.
    # Data chunks collect in ``run`` until the next tag token; the words
    # of a run only raise the sum, so the best window can change only at
    # a run's end. Word-index bounds of the running and the best window
    # let the winning words slice out at the end.
    words: list[str] = []
    best = 0  # empty window is the baseline: only positive sums win
    best_lo = best_hi = 0  # word-index window [lo, hi)
    cur = 0
    cur_lo = 0  # word index where the running window starts
    run: list[str] = []
    toks = _tokens(html_text)
    toks.append(None)  # flushes the last run; a trailing tag wins nothing
    for tok in toks:
        if tok is not None:
            run.append(tok)
            continue
        if run:
            k = len(words)
            words += "".join(run).split()
            run = []
            cur += len(words) - k
            if cur > best:
                best = cur
                best_lo, best_hi = cur_lo, len(words)
        cur -= 1
        if cur < 0:
            cur = 0
            cur_lo = len(words)
    body = words[best_lo:best_hi]
    text = " ".join(body)
    return ExtractionResult(
        text=text,
        paragraphs=[],
        n_paragraphs=len(words),
        n_good=len(body),
        status=STATUS_OK if text else STATUS_EMPTY,
    )


def extract_bytes_bte(raw: bytes) -> ExtractionResult:
    """Raw page bytes -> ExtractionResult via the shared charset sniff."""
    return decode_and_extract(raw, extract_text_bte)
