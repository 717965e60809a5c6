"""JVM-side text/dedup column expressions shared by the query registry.

Everything here is built-in ``pyspark.sql.functions`` (whole-stage
codegen; no Python). Hash primitives use md5-hex prefixes converted to
bigint so the DuckDB oracle can compute the *identical* values —
xxhash64/murmur differ across engines, md5 does not.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 16 fixed xor-seeds for the minhash family h_i(s) = md5int(s) XOR seed_i
# (splitmix64 stream, masked to positive int63 so bigint semantics match
# across engines). Frozen constants — never derived at runtime.
MINHASH_SEEDS: list[int] = [
    0x5851F42D4C957F2D & 0x7FFFFFFFFFFFFFFF,
    0x14057B7EF767814F & 0x7FFFFFFFFFFFFFFF,
    0x2545F4914F6CDD1D & 0x7FFFFFFFFFFFFFFF,
    0x27BB2EE687B0B0FD & 0x7FFFFFFFFFFFFFFF,
    0x369DEA0F31A53F85 & 0x7FFFFFFFFFFFFFFF,
    0x09E66CC3F87B7D3F & 0x7FFFFFFFFFFFFFFF,
    0x6C8E944D1F3B2A19 & 0x7FFFFFFFFFFFFFFF,
    0x41C64E6D0000B001 & 0x7FFFFFFFFFFFFFFF,
    0x5DEECE66D000000B & 0x7FFFFFFFFFFFFFFF,
    0x2B992DDFA23249D7 & 0x7FFFFFFFFFFFFFFF,
    0x3C6EF372FE94F82B & 0x7FFFFFFFFFFFFFFF,
    0x61C88646AD8C3B1D & 0x7FFFFFFFFFFFFFFF,
    0x7F4A7C15F39CC061 & 0x7FFFFFFFFFFFFFFF,
    0x1F83D9ABFB41BD6B & 0x7FFFFFFFFFFFFFFF,
    0x5BE0CD19137E2179 & 0x7FFFFFFFFFFFFFFF,
    0x428A2F98D728AE23 & 0x7FFFFFFFFFFFFFFF,
]
MINHASH_BANDS = 4
MINHASH_ROWS_PER_BAND = 4

SIMHASH_BITS = 48


def tokens_col(text: str | Column = "text") -> Column:
    """Whitespace tokens (regex split of trimmed text)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def md5_int(c: Column) -> Column:
    """First 15 hex chars of md5 -> bigint (< 2^60; engine-portable)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def word_shingles_all(tok: Column, n: int = 3) -> Column:
    """ALL n-word shingles (positional, duplicates kept), built with
    ``slice`` + ``zip_with`` rather than per-index ``element_at``:
    Catalyst inlines the token expression into higher-order lambdas, so
    an element_at formulation re-evaluates the underlying ``split()``
    for EVERY element (O(n^2) per row — measured 20x slower). Slices
    evaluate it O(n) times per row. ``slice`` with length 0 yields an
    empty array, which also handles size < n."""
    length = F.greatest(F.size(tok) - (n - 1), F.lit(0))
    shingle = F.slice(tok, 1, length)
    for k in range(1, n):
        shifted = F.slice(tok, 1 + k, length)
        shingle = F.zip_with(shingle, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return shingle


def word_shingles(tok: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a token array (set semantics, the
    sketch-input variant)."""
    return F.array_distinct(word_shingles_all(tok, n))


def minhash_signature(shingles: Column) -> list[Column]:
    """16 minhash values via xor-permuted md5 integers — one
    ``array_min(transform(...))`` per seed, fully JVM-side."""
    h = F.transform(shingles, md5_int)
    return [
        F.array_min(F.transform(h, lambda x: x.bitwiseXOR(F.lit(seed))))
        for seed in MINHASH_SEEDS
    ]
