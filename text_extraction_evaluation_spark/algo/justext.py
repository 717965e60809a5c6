"""jusText-style paragraph classification, smoothing and text assembly.

Faithful reimplementation of the published jusText algorithm
(Pomikalek 2011; the public ``justext`` package) that the reference
harness wrapped as its flagship extractor (BASELINE.json:6:
"jusText-style paragraph-level boilerplate classifier ... link-density
and stopword-density features, context-sensitive good/bad/near-good
smoothing"). Pure Python, zero Spark imports — the single module
executed both inside the Arrow kernels and by the parity oracle.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from .encoding import sniff_decode
from .htmlseg import Paragraph, segment
from .params import DEFAULT_PARAMS, JustextParams
from .stoplists import stoplist_for

GOOD = "good"
BAD = "bad"
SHORT = "short"
NEARGOOD = "neargood"

STATUS_OK = "ok"
STATUS_EMPTY = "empty"
STATUS_PARSE_ERROR = "parse_error"


@dataclass
class ClassifiedParagraph:
    """Final per-paragraph record (span output, FIXTURES.md §4)."""

    idx: int
    text: str
    class_cf: str
    class_final: str
    link_density: float
    stopword_density: float
    word_count: int
    heading: bool


def _stopword_density(words: list[str], stoplist: frozenset[str]) -> float:
    if not words:
        return 0.0
    # C-level map chain (no generator frame per word — hot path)
    hits = sum(map(stoplist.__contains__, map(str.lower, words)))
    return hits / len(words)


def classify_context_free(
    p: Paragraph,
    stoplist: frozenset[str],
    params: JustextParams,
) -> tuple[str, float, float]:
    """Context-free class per the published rule order (first match wins).

    Returns (class, link_density, stopword_density).
    """
    text = p.text
    length = len(text)
    words = p.words
    link_density = p.link_density
    swd = _stopword_density(words, stoplist)

    if link_density > params.max_link_density:
        cls = BAD
    elif "\xa9" in text or "&copy" in text:
        cls = BAD
    elif "select" in p.dom_path.split("."):
        cls = BAD
    elif length < params.length_low:
        cls = BAD if p.chars_count_in_links > 0 else SHORT
    elif swd >= params.stopwords_high:
        cls = GOOD if length > params.length_high else NEARGOOD
    elif swd >= params.stopwords_low:
        cls = NEARGOOD
    else:
        cls = BAD
    return cls, link_density, swd


def _get_neighbour(
    i: int,
    classes: list[str],
    ignore_neargood: bool,
    inc: int,
    boundary: int,
) -> str:
    """Nearest decisive neighbour class; boundary defaults to 'bad'
    (exactly the public justext ``get_neighbour`` semantics)."""
    while i + inc != boundary:
        i += inc
        c = classes[i]
        if c in (GOOD, BAD):
            return c
        if c == NEARGOOD and not ignore_neargood:
            return c
    return BAD


def revise_classification(
    paragraphs: list[Paragraph],
    cf_classes: list[str],
    params: JustextParams,
) -> list[str]:
    """Context-sensitive smoothing pass -> final classes.

    Order of sub-passes matches the published algorithm:
    heading pre-pass (short heading near a good paragraph -> neargood),
    short smoothing from decisive neighbours, neargood smoothing,
    heading post-pass (rescue a heading demoted to bad).
    """
    n = len(paragraphs)
    classes = list(cf_classes)

    if not params.no_headings:
        for i, p in enumerate(paragraphs):
            if not (p.heading and classes[i] == SHORT):
                continue
            j = i + 1
            distance = 0
            while j < n and distance <= params.max_heading_distance:
                if classes[j] == GOOD:
                    classes[i] = NEARGOOD
                    break
                distance += len(paragraphs[j].text)
                j += 1

    new_classes: dict[int, str] = {}
    for i in range(n):
        if classes[i] != SHORT:
            continue
        prev = _get_neighbour(i, classes, True, -1, -1)
        nxt = _get_neighbour(i, classes, True, 1, n)
        neighbours = {prev, nxt}
        if neighbours == {GOOD}:
            new_classes[i] = GOOD
        elif neighbours == {BAD}:
            new_classes[i] = BAD
        # it is enough to have a neargood on the bad side:
        elif (prev == BAD and _get_neighbour(i, classes, False, -1, -1) == NEARGOOD) or (
            nxt == BAD and _get_neighbour(i, classes, False, 1, n) == NEARGOOD
        ):
            new_classes[i] = GOOD
        else:
            new_classes[i] = BAD
    for i, c in new_classes.items():
        classes[i] = c

    for i in range(n):
        if classes[i] != NEARGOOD:
            continue
        prev = _get_neighbour(i, classes, True, -1, -1)
        nxt = _get_neighbour(i, classes, True, 1, n)
        classes[i] = BAD if (prev == BAD and nxt == BAD) else GOOD

    if not params.no_headings:
        for i, p in enumerate(paragraphs):
            if not (p.heading and classes[i] == BAD and cf_classes[i] != BAD):
                continue
            j = i + 1
            distance = 0
            while j < n and distance <= params.max_heading_distance:
                if classes[j] == GOOD:
                    classes[i] = GOOD
                    break
                distance += len(paragraphs[j].text)
                j += 1

    return classes


def classify(
    paragraphs: list[Paragraph],
    lang: str,
    stoplists: dict[str, frozenset[str]] | None = None,
) -> list[ClassifiedParagraph]:
    if stoplists is not None:
        stoplist = stoplists.get(lang, frozenset())
    else:
        stoplist = stoplist_for(lang)
    params = DEFAULT_PARAMS if stoplist else DEFAULT_PARAMS.for_no_stoplist()

    cf: list[str] = []
    densities: list[tuple[float, float]] = []
    for p in paragraphs:
        cls, ld, swd = classify_context_free(p, stoplist, params)
        cf.append(cls)
        densities.append((ld, swd))

    final = revise_classification(paragraphs, cf, params)

    return [
        ClassifiedParagraph(
            idx=i,
            text=p.text,
            class_cf=cf[i],
            class_final=final[i],
            link_density=densities[i][0],
            stopword_density=densities[i][1],
            word_count=len(p.words),
            heading=p.heading,
        )
        for i, p in enumerate(paragraphs)
    ]


@dataclass
class ExtractionResult:
    text: str
    paragraphs: list[ClassifiedParagraph]
    n_paragraphs: int
    n_good: int
    status: str
    err: str | None = None


def decode_and_extract(
    raw: bytes, extract_text_fn: Callable[..., ExtractionResult], *args
) -> ExtractionResult:
    """Raw page bytes -> ``extract_text_fn(html_text, *args)`` via the
    deterministic charset sniff. Every extractor's bytes entry point
    goes through here, and this is the one failure path: a page that
    cannot be decoded or parsed (a null ``html``, a lexer fault) comes
    back ``parse_error`` with the exception in ``err`` instead of
    failing the batch."""
    try:
        html_text, _codec = sniff_decode(bytes(raw))
        return extract_text_fn(html_text, *args)
    except Exception as exc:
        return ExtractionResult("", [], 0, 0, STATUS_PARSE_ERROR, repr(exc))


def extract_text(
    html_text: str,
    lang: str,
    stoplists: dict[str, frozenset[str]] | None = None,
) -> ExtractionResult:
    """html string -> main-content text ('\\n\\n'-joined good paragraphs)."""
    classified = classify(segment(html_text), lang, stoplists)
    good = [cp.text for cp in classified if cp.class_final == GOOD]
    text = "\n\n".join(good)
    status = STATUS_OK if text else STATUS_EMPTY
    return ExtractionResult(
        text=text,
        paragraphs=classified,
        n_paragraphs=len(classified),
        n_good=len(good),
        status=status,
    )


def extract_bytes(
    raw: bytes,
    lang: str,
    stoplists: dict[str, frozenset[str]] | None = None,
) -> ExtractionResult:
    """Raw page bytes -> ExtractionResult via the deterministic
    charset sniff (the only supported entry point for ``html:binary``
    columns — bytes are never decoded JVM-side, see SURVEY.md §7)."""
    return decode_and_extract(raw, extract_text, lang, stoplists)
