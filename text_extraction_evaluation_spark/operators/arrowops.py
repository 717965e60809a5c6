"""Raw-Arrow kernels (``mapInArrow``) — the zero-pandas fast path for
byte-level work on the binary ``html`` column.

``mapInPandas`` converts every Arrow batch to pandas and back; for
kernels that only slice bytes that conversion IS the cost (binary
columns become Python ``bytes`` objects row by row). ``mapInArrow``
hands the kernel the ``pyarrow.RecordBatch`` itself, so byte scans run
against Arrow buffers via ``pyarrow.compute`` with no per-row Python
objects at all. The extraction kernel (``operators.extract``) is a
``mapInArrow`` kernel too, but its parser needs one Python ``bytes``
object per page; this module is the pattern for the scan-shaped work
around it, which needs none.

Correctness twin: every stat emitted here is also expressible as a JVM
column expression over the same rows; tests/test_arrowops.py asserts
row equality, so the Arrow path can never drift from the relational
semantics."""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

BYTE_STATS_SCHEMA = (
    "url string, n_bytes long, n_lt long, n_gt long, head16 string"
)


def page_byte_stats(pages: DataFrame) -> DataFrame:
    """Per-page byte census straight off the Arrow buffers: payload
    size, '<' / '>' byte counts (tag-density proxy on RAW bytes — no
    decode), and the hex of the first 16 bytes (the magic-number
    window a codec sniffer reads). One map-only stage; the binary
    column never materializes as Python objects."""
    pruned = pages.select("url", "html")

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            html = batch.column(1)
            n_bytes = pc.binary_length(html).cast(pa.int64())
            # count_substring works on binary arrays buffer-side
            n_lt = pc.count_substring(html, b"<").cast(pa.int64())
            n_gt = pc.count_substring(html, b">").cast(pa.int64())
            head = pc.binary_slice(html, 0, 16)
            # hex-encode the magic window (tiny: 16 bytes/row)
            head16 = pa.array(
                [None if v is None else v.hex() for v in head.to_pylist()],
                type=pa.string(),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), n_bytes, n_lt, n_gt, head16],
                names=["url", "n_bytes", "n_lt", "n_gt", "head16"],
            )

    return pruned.mapInArrow(kernel, BYTE_STATS_SCHEMA)
