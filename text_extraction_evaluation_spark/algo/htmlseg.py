"""HTML -> ordered paragraph blocks (jusText preprocessing + segmentation),
and the package's one HTML lexer.

Reimplements, from the published algorithm description (Pomikalek
2011, "Removing Boilerplate and Duplicate Content from Web Corpora")
and the public ``justext`` package semantics, the DOM preprocessing
and paragraph segmentation the reference harness relied on
(BASELINE.json:6 "DOM block segmentation"). lxml is not a dependency.

One lexer, two consumers. ``_fast_scan`` turns html text into an event
stream: start, end and self-closing tags, character data, and one
``handle_markup()`` per comment, doctype/PI or bogus end tag. It feeds

* ``_SegmenterCore``, the segmentation semantics below, which the
  jusText and densometric extractors share (it ignores markup events);
* the BTE token sink (``algo/bte.py``): one tag token per tag or markup
  event, word tokens from the data.

``segment(engine='stdlib')`` drives the same segmenter core from
``html.parser.HTMLParser`` instead; it is the cross-check reference
(tests fuzz both front-ends and assert identical paragraphs).

Pure Python, zero Spark imports — shared by the Arrow kernel and the
parity oracle so segmentation is byte-identical by construction.

Lexer rules:

* a ``>`` inside a quoted attribute value does not end a tag;
* the content of ``script/style/textarea/title`` is raw text up to
  ``</name>`` (optional whitespace before ``>``; as in CPython 3.11's
  ``HTMLParser``, ``</script foo>`` does not close a script);
* a comment ends at ``-->``; ``<!...>`` and ``<?...>`` (doctype, PI,
  CDATA) end at the first ``>``; ``</`` not followed by a letter is a
  bogus end tag that ends at the next ``>``;
* markup cut off at EOF (``<name`` with no closing ``>``, an unbalanced
  attribute quote, an unterminated comment) drops the rest of the page,
  as HTML5 does (the stdlib front-end emits it as text instead);
* any other ``<`` is character data, emitted as its own data event;
* entity references in data are decoded.

Segmentation semantics:

* comments, doctypes/PIs and the content of ``script/style/head/
  title/textarea/noscript/iframe/svg/math`` are dropped;
* a new paragraph starts at the open OR close of any block-level tag
  (``PARAGRAPH_TAGS``) and at the second of two consecutive ``<br>``;
* character data inside ``<a>`` accrues ``chars_count_in_links``;
* each paragraph records its dom path at creation time and whether
  any enclosing element is ``h1``-``h6`` (heading flag);
* paragraph text is whitespace-normalized;
* stray close tags are ignored, unclosed elements are popped to the
  nearest matching open tag.

``segment`` raises on a page it cannot segment; the extractors'
shared decode-and-extract step (``algo/justext.py``) turns that into a
``parse_error`` row.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

PARAGRAPH_TAGS = frozenset(
    {
        "address", "article", "aside", "blockquote", "body", "caption",
        "center", "col", "colgroup", "dd", "dir", "div", "dl", "dt",
        "fieldset", "figure", "footer", "form", "h1", "h2", "h3", "h4",
        "h5", "h6", "header", "hr", "legend", "li", "main", "menu",
        "nav", "ol", "option", "p", "pre", "section", "select", "table",
        "tbody", "td", "tfoot", "th", "thead", "tr", "ul",
    }
)

_SKIP_CONTENT_TAGS = frozenset(
    {"script", "style", "head", "title", "textarea", "noscript",
     "iframe", "svg", "math"}
)

# true raw-text elements: content is opaque until the matching close
_RAWTEXT_TAGS = frozenset({"script", "style", "textarea", "title"})

_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# Void elements never get a matching close tag; keep the tag stack sane.
_VOID_TAGS = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input", "link",
     "meta", "param", "source", "track", "wbr"}
)


def _normalize(text: str) -> str:
    r"""Runs of whitespace -> one space, no leading or trailing space.
    ``str.split``, ``str.strip`` and the regex ``\s`` share one
    definition of whitespace, so this equals
    ``re.sub(r"\s+", " ", text).strip()`` without the regex pass."""
    return " ".join(text.split())


class Paragraph:
    """One segmented block, before classification."""

    __slots__ = ("dom_path", "heading", "chunks", "chars_count_in_links",
                 "_text", "_words")

    def __init__(self, dom_path: str, heading: bool) -> None:
        self.dom_path = dom_path
        self.heading = heading
        self.chunks: list[str] = []
        self.chars_count_in_links = 0
        self._text: str | None = None
        self._words: list[str] | None = None

    @property
    def text(self) -> str:
        if self._text is None:
            self._text = _normalize("".join(self.chunks))
        return self._text

    @property
    def words(self) -> list[str]:
        # cached: the classifier reads words for features AND word_count
        if self._words is None:
            self._words = self.text.split()
        return self._words

    @property
    def link_density(self) -> float:
        length = len(self.text)
        if length == 0:
            return 0.0
        return min(1.0, self.chars_count_in_links / length)

    def is_empty(self) -> bool:
        return not self.text


class _SegmenterCore:
    """Tokenizer-independent event logic (the actual jusText
    segmentation semantics). Both front-ends drive this.

    Perf: open-tag membership and the heading flag are maintained
    incrementally (_open_counts / _heading_depth) so end-tag handling
    and paragraph creation are O(1) instead of O(stack depth) — the
    event layer is on the extraction kernel's hot path."""

    __slots__ = ("stack", "paragraphs", "_cur", "_skip_depth",
                 "_link_depth", "_br_pending", "_open_counts",
                 "_heading_depth")

    def __init__(self) -> None:
        self.stack: list[str] = []
        self.paragraphs: list[Paragraph] = []
        self._cur: Paragraph | None = None
        self._skip_depth = 0
        self._link_depth = 0
        self._br_pending = False
        self._open_counts: dict[str, int] = {}
        self._heading_depth = 0

    # -- paragraph lifecycle -------------------------------------------------
    def _flush(self) -> None:
        p = self._cur
        if p is not None and not p.is_empty():
            self.paragraphs.append(p)
        self._cur = None
        self._br_pending = False

    # -- events ----------------------------------------------------------
    # Hot path: one call per lexer event, so the stack push and pop and
    # the paragraph creation are written out inline.
    def handle_starttag(self, tag: str) -> None:
        if tag in _SKIP_CONTENT_TAGS:
            self._flush()
            self._skip_depth += 1
        elif tag == "br":
            if self._br_pending:
                self._flush()
            else:
                self._br_pending = True
                if self._cur is not None:
                    self._cur.chunks.append(" ")
            return
        elif tag in _VOID_TAGS:
            return
        elif tag in PARAGRAPH_TAGS:
            self._flush()
        else:
            self._br_pending = False
            if tag == "a":
                self._link_depth += 1
        self.stack.append(tag)
        c = self._open_counts
        c[tag] = c.get(tag, 0) + 1
        if tag in _HEADING_TAGS:
            self._heading_depth += 1

    def handle_startendtag(self, tag: str) -> None:
        if tag == "br":
            self.handle_starttag(tag)
            return
        if tag in PARAGRAPH_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_CONTENT_TAGS:
            if self._skip_depth > 0:
                self._skip_depth -= 1
        elif tag == "br" or tag in _VOID_TAGS:
            return
        else:
            if tag == "a" and self._link_depth > 0:
                self._link_depth -= 1
            if tag in PARAGRAPH_TAGS:
                self._flush()
        # Tolerate malformed nesting: pop to the nearest matching open
        # tag if one exists, else ignore the stray close tag. O(1)
        # membership via the open-tag counts.
        c = self._open_counts
        if not c.get(tag):
            return
        stack = self.stack
        while stack:
            t = stack.pop()
            c[t] -= 1
            if t in _HEADING_TAGS:
                self._heading_depth -= 1
            if t == tag:
                break

    def handle_data(self, data: str) -> None:
        if self._skip_depth > 0 or not data:
            return
        p = self._cur
        if data.isspace():
            # pure whitespace: acts as a separator, never starts a paragraph
            if p is not None:
                p.chunks.append(" ")
            return
        self._br_pending = False
        if p is None:
            # a paragraph records its dom path and heading flag at creation
            p = self._cur = Paragraph(".".join(self.stack), self._heading_depth > 0)
        p.chunks.append(data)
        if self._link_depth > 0:
            p.chars_count_in_links += len(_normalize(data))

    def handle_markup(self) -> None:
        """Comment, doctype/PI or bogus end tag: no effect here."""

    def finish(self) -> None:
        self._flush()


# ---------------------------------------------------------------------------
# Front-end 1: stdlib html.parser (reference / cross-check)
# ---------------------------------------------------------------------------


class _HtmlParserSegmenter(HTMLParser):
    def __init__(self, core: _SegmenterCore) -> None:
        super().__init__(convert_charrefs=True)
        self.core = core

    def handle_starttag(self, tag, attrs):  # noqa: ANN001
        self.core.handle_starttag(tag.lower())

    def handle_startendtag(self, tag, attrs):  # noqa: ANN001
        self.core.handle_startendtag(tag.lower())

    def handle_endtag(self, tag):  # noqa: ANN001
        self.core.handle_endtag(tag.lower())

    def handle_data(self, data):  # noqa: ANN001
        self.core.handle_data(data)

    def handle_comment(self, data):  # noqa: ANN001
        return

    def handle_decl(self, decl):  # noqa: ANN001
        return


# ---------------------------------------------------------------------------
# Front-end 2: the lexer
# ---------------------------------------------------------------------------

# One search per construct. At a '<': a comment opener, a doctype/PI,
# or a tag whose attribute soup may hold a quoted '>'. The empty last
# alternative matches any other '<'; _fast_scan resolves it (bogus end
# tag, markup cut off at EOF, or a lone '<' that is data). A tag name
# is a letter then [^\t\n\r\f />\x00]* (stdlib tagfind-compatible),
# the longest such name after which the attributes parse. Backtracking
# into a quote-free stretch of the name, or into the attribute loop
# (which has exactly one parse), cannot change that outcome, so those
# quantifiers are possessive: without them an unterminated tag costs
# time exponential in its length. (A name full of quotes still costs
# length x quotes.)
_TAG_RE = re.compile(
    r"""<(?:
        (?P<comment>!--)
      | [!?][^>]*+>
      | (?P<end>/)?(?P<tag>[a-zA-Z][^\t\n\r\f\ />\x00"']*+(?:["'][^\t\n\r\f\ />\x00"']*+)*)
        (?P<attrs>(?:[^>"']++|"[^"]*+"|'[^']*+')*+)>
      |
    )""",
    re.X,
)

# precompiled close-tag patterns for the rawtext elements (hot path:
# one search per <script>/<style>/... occurrence)
_RAWTEXT_CLOSE_RES = {
    t: re.compile(rf"</{t}\s*>", re.I) for t in _RAWTEXT_TAGS
}


def _fast_scan(text: str, sink) -> None:  # noqa: ANN001
    """Feed ``sink`` the events of ``text`` in document order (module
    docstring: lexer rules). ``sink`` has ``handle_starttag(tag)``,
    ``handle_endtag(tag)``, ``handle_startendtag(tag)``,
    ``handle_data(data)`` and ``handle_markup()``; tag names are
    lower-cased."""
    on_data = sink.handle_data
    on_start = sink.handle_starttag
    on_end = sink.handle_endtag
    on_markup = sink.handle_markup
    search = _TAG_RE.search
    pos, n = 0, len(text)
    while pos < n:
        m = search(text, pos)
        if m is None:
            data = text[pos:]
            on_data(unescape(data) if "&" in data else data)
            return
        lt = m.start()
        if lt > pos:
            data = text[pos:lt]
            on_data(unescape(data) if "&" in data else data)
        pos = m.end()
        # one C call for all four groups, by number (hot path: one per tag)
        comment, end, tag, attrs = m.group(1, 2, 3, 4)
        if tag is not None:
            tag = tag.lower()
            if end:
                on_end(tag)
            elif attrs and attrs.rstrip().endswith("/"):
                sink.handle_startendtag(tag)
            else:
                on_start(tag)
                if tag in _RAWTEXT_TAGS:
                    # opaque content until the matching close tag;
                    # search from pos on the original string (slicing
                    # the tail would copy the rest of the document)
                    close = _RAWTEXT_CLOSE_RES[tag].search(text, pos)
                    on_end(tag)
                    pos = n if close is None else close.end()
        elif comment:
            on_markup()
            close = text.find("-->", pos)
            pos = n if close < 0 else close + 3
        elif pos > lt + 1:  # doctype / PI
            on_markup()
        else:
            nxt = text[pos : pos + 1]
            if nxt == "/" and not text[pos + 1 : pos + 2].isalpha():
                # bogus end tag `</ ...` / `</>`: dropped through next '>'
                on_markup()
                gt = text.find(">", pos)
                pos = n if gt < 0 else gt + 1
            elif nxt and (nxt.isalpha() or nxt in "!?/"):
                return  # markup cut off at EOF: the rest is dropped
            else:
                on_data("<")  # lone '<' (e.g. "a < b") is data


def segment(html_text: str, engine: str = "fast") -> list[Paragraph]:
    """Parse ``html_text`` and return the ordered non-empty paragraphs.

    ``engine='fast'`` (default) and ``engine='stdlib'`` produce
    identical output (fuzz-tested); the fast lexer is ~3x quicker.
    """
    core = _SegmenterCore()
    if engine == "stdlib":
        parser = _HtmlParserSegmenter(core)
        parser.feed(html_text)
        parser.close()
    else:
        _fast_scan(html_text, core)
    core.finish()
    return core.paragraphs
