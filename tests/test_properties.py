"""Property-based tests (hypothesis) for the pure algorithmic
primitives — the invariants the equi-join plans rely on."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

# mirror of plans/queries._SIMHASH_BANDS
_BANDS = [(0, 7), (7, 7), (14, 7), (21, 7), (28, 7), (35, 7), (42, 6)]


def _band_vals(x: int) -> list[int]:
    return [(x >> off) & ((1 << width) - 1) for off, width in _BANDS]


@given(st.integers(0, (1 << 48) - 1), st.sets(st.integers(0, 47), max_size=6))
@settings(max_examples=500, deadline=None)
def test_simhash_banding_is_exact_for_hamming_le_6(x, flip_bits):
    """Pigeonhole: any y within Hamming distance 6 of x shares at least
    one band value — the property that makes the banded equi-join plan
    EXACT, not approximate."""
    y = x
    for b in flip_bits:
        y ^= 1 << b
    assert any(a == c for a, c in zip(_band_vals(x), _band_vals(y)))


@given(st.integers(0, (1 << 48) - 1), st.sets(st.integers(0, 47), min_size=7, max_size=48))
@settings(max_examples=200, deadline=None)
def test_simhash_band_values_differ_iff_bits_differ(x, flip_bits):
    """Sanity inverse: flipping >=7 bits CAN dirty every band (the
    bound is tight), and flipping none keeps all bands equal."""
    assert _band_vals(x) == _band_vals(x)
    y = x
    for b in flip_bits:
        y ^= 1 << b
    # not asserting all-differ (depends on placement) — only that the
    # exactness claim is limited to <= 6: verify hamming really is >6
    assert bin(x ^ y).count("1") >= 7


@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=12), max_size=30))
@settings(max_examples=200, deadline=None)
def test_shingle_set_matches_naive(words):
    from text_extraction_evaluation_spark.operators.dedup import _shingle_set

    text = " ".join(words)
    w = text.split()
    naive = {" ".join(w[i : i + 3]) for i in range(max(0, len(w) - 2))}
    got = _shingle_set(text)
    assert set(got) == naive
    assert len(got) == len(set(got))  # distinct, order-preserving


@given(st.integers(1, 10**12))
@settings(max_examples=300, deadline=None)
def test_sign_lsh_bits_occupancy_rule(n):
    from text_extraction_evaluation_spark.plans.queries import (
        EMB_LSH_TARGET_OCCUPANCY,
        sign_lsh_bits,
    )

    bits = sign_lsh_bits(n)
    assert bits >= 1
    # the rule's guarantee: expected occupancy at the chosen bits is
    # <= target (for corpora above the minimum)
    if n > 2 * EMB_LSH_TARGET_OCCUPANCY:
        assert n / (1 << bits) <= EMB_LSH_TARGET_OCCUPANCY


# --- count-min sketch (mirror of plans/q_corpus.heavy_hitters_cms) --------

import hashlib


def _cms_bucket_py(term: str, i: int, width: int) -> int:
    h = int(hashlib.md5(f"{term}#cms{i}".encode()).hexdigest()[:15], 16)
    return h % width


def _cms_build(counts: dict[str, int], depth: int, width: int):
    rows = [[0] * width for _ in range(depth)]
    for t, n in counts.items():
        for i in range(depth):
            rows[i][_cms_bucket_py(t, i, width)] += n
    return rows


def _cms_est(rows, term: str, width: int) -> int:
    return min(rows[i][_cms_bucket_py(term, i, width)] for i in range(len(rows)))


@given(st.dictionaries(st.text("abcdef", min_size=1, max_size=5),
                       st.integers(1, 50), min_size=1, max_size=40))
@settings(max_examples=200, deadline=None)
def test_cms_never_underestimates_and_is_mergeable(counts):
    """The two CMS invariants the distributed plan relies on: the
    estimate never undercounts (min over rows of non-negative sums),
    and building from any split of the input then adding counters
    elementwise equals the single-pass build — the associative combine
    that makes the counter table safe under partial aggregation."""
    depth, width = 4, 8  # tiny width to force real collisions
    rows = _cms_build(counts, depth, width)
    for t, n in counts.items():
        assert _cms_est(rows, t, width) >= n
    # split-merge == single-pass
    items = sorted(counts.items())
    a = dict(items[: len(items) // 2])
    b = dict(items[len(items) // 2:])
    ra, rb = _cms_build(a, depth, width), _cms_build(b, depth, width)
    merged = [[x + y for x, y in zip(r1, r2)] for r1, r2 in zip(ra, rb)]
    assert merged == rows


# --- A-ES weighted sampling (mirror of plans/q_embedding) ------------------


def _aes_priority(doc_id: int, w: int) -> float:
    h = int(hashlib.md5(f"wsample:{doc_id}".encode()).hexdigest()[:12], 16)
    import math

    u = (h + 1) / float(1 << 48)
    lnq = round(math.log(u) * 1e9)  # nano-nat quantization, as both engines
    return -lnq / float(max(w, 1))


@given(st.dictionaries(st.integers(0, 10_000), st.integers(1, 5_000),
                       min_size=2, max_size=60),
       st.integers(2, 1000))
@settings(max_examples=200, deadline=None)
def test_aes_selection_is_weight_scale_invariant(weights, c):
    """Multiplying every weight by a constant leaves the A-ES top-k
    selection unchanged — the property that makes the sample
    well-defined when weights are re-unitized (chars vs KB)."""
    k = max(1, len(weights) // 3)

    def topk(ws):
        return sorted(ws, key=lambda d: (_aes_priority(d, ws[d]), d))[:k]

    scaled = {d: w * c for d, w in weights.items()}
    assert topk(weights) == topk(scaled)


@given(st.dictionaries(st.integers(0, 10_000), st.integers(1, 5_000),
                       min_size=2, max_size=60))
@settings(max_examples=200, deadline=None)
def test_aes_priority_monotone_in_weight(weights):
    """Raising one document's weight strictly lowers (improves) its own
    priority and leaves every other priority untouched — so more mass
    can only help selection, never hurt it."""
    d0 = sorted(weights)[0]
    before = {d: _aes_priority(d, w) for d, w in weights.items()}
    bumped = dict(weights)
    bumped[d0] = weights[d0] * 10
    after = {d: _aes_priority(d, w) for d, w in bumped.items()}
    assert after[d0] < before[d0] or before[d0] == 0.0
    for d in weights:
        if d != d0:
            assert after[d] == before[d]
