"""Fuzz cross-check: the fast regex scanner and the stdlib-HTMLParser
front-end must segment identically on generated HTML-ish inputs
(structured generator + adversarial corner cases)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from text_extraction_evaluation_spark.algo.htmlseg import segment

TAGS = ["p", "div", "span", "a", "b", "h2", "li", "ul", "table", "td",
        "select", "option", "em", "br", "script", "style"]
WORDS = ["alpha", "beta", "gamma", "delta", "the", "a", "join", "&amp;",
         "©", "x<y", "a&b", "  ", "tail"]


@st.composite
def html_doc(draw):
    parts = []
    depth = 0
    for _ in range(draw(st.integers(1, 30))):
        kind = draw(st.integers(0, 5))
        tag = draw(st.sampled_from(TAGS))
        if kind == 0:
            parts.append(f"<{tag}>")
            depth += 1
        elif kind == 1:
            parts.append(f"</{tag}>")
        elif kind == 2:
            parts.append(" ".join(draw(st.lists(st.sampled_from(WORDS), min_size=1, max_size=8))))
        elif kind == 3:
            attrs = draw(st.sampled_from(['class="x" href="/y"', 'title="a>b"']))
            parts.append(f"<{tag} {attrs}>")
        elif kind == 4:
            parts.append("<br>")
        else:
            parts.append("<!-- comment -->")
    return "".join(parts)


def _sig(paragraphs):
    return [
        (p.text, p.dom_path, p.heading, p.chars_count_in_links)
        for p in paragraphs
    ]


@settings(max_examples=300, deadline=None)
@given(html_doc())
def test_fast_equals_stdlib(doc):
    # terminator guarantees no EOF-truncated markup (the one documented
    # divergence: HTML5/fast drops it, stdlib emits it as data)
    doc = doc + "<p>terminator</p>"
    assert _sig(segment(doc, "fast")) == _sig(segment(doc, "stdlib"))


CORNERS = [
    "",
    "plain text only",
    "<p>a</p><p>b</p>",
    "<script>var a = '<p>not a para</p>';</script><p>real</p>",
    "<style>p::before{content:'<x>'}</style><p>real</p>",
    "<p>a &amp; b &copy; &lt;tag&gt;</p>",
    "<p>unclosed <div>nested",
    "<a href='/x'>link <b>bold</b></a> tail",
    "<p>a<br><br>b</p>",
    "<br><br><br>",
    "<P>UPPER</P><DiV>mixed</dIv>",
    "<p>self-closed<br/></p>",
    "<select><option>o1<option>o2</select>",
    "<td>cell</td></tr></table>stray closes",
    "<h2>head</h2><p>body text here</p>",
    "<div class='q\"uote'>attr quotes</div>",
    "<p>math a<b and c>d</p>",
    "<p>ends with open tag <",
    "<p>tab\tand\nnewline  spaces</p>",
    "<textarea><p>raw</p></textarea><p>after</p>",
    "<title>the title</title><p>after title</p>",
    "</ bogus><p>after bogus</p>",
    "<?php echo '<p>x</p>'; ?><p>after pi</p>",
    "<!DOCTYPE html><p>after doctype</p>",
]


def test_corner_cases_agree():
    for doc in CORNERS:
        assert _sig(segment(doc, "fast")) == _sig(segment(doc, "stdlib")), doc


def test_eof_truncated_markup_dropped_html5_style():
    # documented divergence from the stdlib front-end: unterminated
    # markup at EOF is dropped (HTML5), not emitted as text
    assert _sig(segment("<p>kept</p><p>tail <div", "fast")) == [
        ("kept", "p", False, 0), ("tail", "p", False, 0)
    ]
    assert _sig(segment("<!-- unterminated <p>hidden</p>", "fast")) == []
