"""Unit tests for the HTML segmenter (SURVEY.md §2.3 E1a/E1b/E1c)."""

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from text_extraction_evaluation_spark.algo.htmlseg import _normalize, segment


def texts(html):
    return [p.text for p in segment(html)]


def test_block_tags_split_paragraphs():
    assert texts("<p>one two</p><p>three</p>") == ["one two", "three"]


def test_div_and_headings_split():
    assert texts("<div>a b</div><h1>head</h1><div>c</div>") == ["a b", "head", "c"]


def test_double_br_splits_single_br_does_not():
    assert texts("<div>a<br>b</div>") == ["a b"]
    assert texts("<div>a<br><br>b</div>") == ["a", "b"]
    assert texts("<div>a<br/><br/>b</div>") == ["a", "b"]


def test_script_style_head_dropped():
    html = "<head><title>t</title><style>.x{}</style></head><body><script>var a=1;</script><p>keep</p></body>"
    assert texts(html) == ["keep"]


def test_comments_dropped():
    assert texts("<p>a<!-- hidden -->b</p>") == ["ab"]


def test_whitespace_normalized():
    assert texts("<p>  a \n\t b   c </p>") == ["a b c"]


def test_link_chars_counted():
    ps = segment('<p>plain <a href="#">linked text</a> tail</p>')
    assert len(ps) == 1
    assert ps[0].chars_count_in_links == len("linked text")
    assert 0 < ps[0].link_density < 1


def test_all_link_paragraph_density_one():
    ps = segment('<p><a href="#">only link</a></p>')
    assert ps[0].link_density == 1.0


def test_heading_flag():
    ps = segment("<h2>title words</h2><p>body</p>")
    assert ps[0].heading is True
    assert ps[1].heading is False


def test_select_in_dom_path():
    ps = segment("<select><option>pick one</option></select>")
    assert any("select" in p.dom_path.split(".") for p in ps)


def test_malformed_unclosed_tags_tolerated():
    ps = texts("<div><p>first<div>second<span>third")
    assert "first" in ps[0]
    assert any("second" in t for t in ps)


def test_entities_decoded():
    assert texts("<p>a &amp; b &copy; c</p>") == ["a & b \xa9 c"]


def test_nested_blocks():
    got = texts("<div><div><p>inner text</p></div>outer tail</div>")
    assert got == ["inner text", "outer tail"]


def test_table_cells_are_paragraphs():
    got = texts("<table><tr><td>c1</td><td>c2</td></tr></table>")
    assert got == ["c1", "c2"]


def test_empty_page_no_paragraphs():
    assert texts("<html><head></head><body></body></html>") == []


# The whitespace characters most likely to split str.split from the regex
# \s: the ASCII separators \x1c-\x1f, NEL, no-break space, the line
# separator and the ideographic space.
_UNUSUAL_WS = "\x1c\x1d\x1e\x1f\x85\xa0\u2028\u3000"


@settings(max_examples=500, deadline=None)
@given(st.text() | st.text(alphabet=st.sampled_from(list(_UNUSUAL_WS + " \t\nab"))))
@example(_UNUSUAL_WS + "a" + "b".join(_UNUSUAL_WS) + _UNUSUAL_WS)
def test_normalize_equals_regex_collapse_and_strip(s):
    assert _normalize(s) == re.sub(r"\s+", " ", s).strip()
