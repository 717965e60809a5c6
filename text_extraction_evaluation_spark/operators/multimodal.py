"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with a
metadata struct, exactly like ``pages.html`` — never decoded JVM-side.
Decode/feature kernels run via ``mapInPandas``. The actual codecs
(PIL/librosa/ffmpeg) are NOT installed in this container, so the
decode step is stubbed: ``decoder='deterministic_fake'`` produces a
seeded fake decode (shape-correct, reproducible — used by tests to
validate the Spark-side plumbing: schema, pruning, batching,
partitioning), and ``decoder='real'`` raises NotImplementedError at
the exact integration point a production build would fill in.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int, codec:string>"
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, "
    "feature array<float>, feat_dim int, status string"
)


def synth_media_df(spark: SparkSession, n: int = 64, n_partitions: int = 8) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes) for
    plumbing tests; mirrors how pages are synthesized from documents."""
    base = spark.range(n).withColumnRenamed("id", "media_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = ["image", "audio", "video"]
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                kind = kinds[mid % 3]
                # ASCII hex payload (still carried as an opaque binary
                # column) so the DuckDB oracle can regenerate it with
                # repeat(sha256(...), reps) — see _MEDIA_FEATURES_SQL.
                payload = hashlib.sha256(f"media-{mid}".encode()).hexdigest().encode() * (
                    4 + mid % 5
                )
                meta = {
                    "width": 64 + (mid % 8) * 16 if kind != "audio" else None,
                    "height": 64 + (mid % 4) * 16 if kind != "audio" else None,
                    "sample_rate": 16000 if kind == "audio" else None,
                    "n_frames": 1 + mid % 30 if kind == "video" else None,
                    "codec": {"image": "png", "audio": "pcm16", "video": "h264"}[kind],
                }
                rows.append((mid, kind, payload, meta))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return base.repartition(n_partitions, "media_id").mapInPandas(gen, MEDIA_SCHEMA)


def _fake_decode_feature(payload: bytes, kind: str, dim: int) -> np.ndarray:
    """Deterministic stand-in for decode+embed, seeded by payload bytes.

    Per-dim value = md5 15-hex-prefix of ``payload || ':' || i`` mapped
    to [-1, 1) — the registry's engine-portable hash primitive, so the
    DuckDB oracle computes the *identical* float32 features (all
    arithmetic in double, one final cast to float32 on both engines).
    Shape-correct, reproducible across runs/engines."""
    vals = np.empty(dim, dtype=np.float64)
    for i in range(dim):
        h = int(hashlib.md5(payload + b":" + str(i).encode()).hexdigest()[:15], 16)
        vals[i] = (h / float(1 << 60) - 0.5) * 2.0
    return vals.astype(np.float32)


def extract_media_features(
    media: DataFrame, dim: int = 16, decoder: str = "deterministic_fake"
) -> DataFrame:
    """media table -> per-item feature vectors via an Arrow kernel.

    Column pruning, Arrow batch shape, and output schema are the real
    production plumbing; only the decode call is stubbed (no codec
    libraries in this sandbox)."""
    pruned = media.select("media_id", "kind", "payload")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], strict=True
            ):
                if decoder == "real":
                    raise NotImplementedError(
                        "real decode requires PIL/librosa/ffmpeg — not "
                        "installed in this sandbox; integration point "
                        "for production builds"
                    )
                feat = _fake_decode_feature(bytes(payload), kind, dim)
                rows.append(
                    (int(mid), kind, len(payload), feat.tolist(), dim, "ok")
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "n_bytes", "feature", "feat_dim", "status"],
            )

    return pruned.mapInPandas(kernel, FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# PDF / layout parse (north-rule extraction family: "HTML boilerplate
# strip, PDF/layout parse, DOM heuristics"). The PDF codec itself is
# stubbed (no pdfium/poppler in this sandbox) but everything Spark-side
# is real: opaque binary column, column pruning, Arrow batching, and
# the LAYOUT logic — reading-order reconstruction from positioned text
# blocks — runs for real on the deterministic fake container.
# ---------------------------------------------------------------------------

PDF_SCHEMA = "doc_id long, payload binary, n_pages int"
PDF_PAGES_SCHEMA = "doc_id long, page int, text string, n_blocks int, status string"


def synth_pdf_df(spark: SparkSession, n: int = 64, n_partitions: int = 8) -> DataFrame:
    """Deterministic fake-PDF table. Each payload is a parseable binary
    container: ``b'%FPDF'`` magic, then per page a set of positioned
    text blocks serialized as ``y|x|text`` lines — enough structure
    that the layout-parse kernel does real work (block sort, reading
    order), with only the codec faked."""
    base = spark.range(n).withColumnRenamed("id", "doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n_pages = 1 + did % 4
                pages = []
                for p in range(n_pages):
                    blocks = []
                    for b in range(2 + (did + p) % 3):
                        seed = hashlib.sha256(f"{did}-{p}-{b}".encode()).digest()
                        y, x = seed[0] % 100, seed[1] % 50
                        blocks.append(f"{y}|{x}|block {did}.{p}.{b} word{seed[2] % 7}")
                    pages.append("\x1e".join(blocks))
                payload = b"%FPDF" + "\x1d".join(pages).encode("utf-8")
                rows.append((did, payload, n_pages))
            yield pd.DataFrame(rows, columns=["doc_id", "payload", "n_pages"])

    return base.repartition(n_partitions, "doc_id").mapInPandas(gen, PDF_SCHEMA)


def pdf_extract_pages(
    pdfs: DataFrame, decoder: str = "deterministic_fake"
) -> DataFrame:
    """pdf table -> one row per page with layout-ordered text.

    Layout parse: blocks are sorted into reading order by (y, x) —
    top-to-bottom then left-to-right — and joined with newlines; a
    corrupt/unknown container yields a ('', 'decode_error') row rather
    than failing the partition. ``decoder='real'`` raises at the exact
    pdfium/poppler integration point a production build fills in."""
    pruned = pdfs.select("doc_id", "payload")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"], strict=True):
                did = int(did)
                raw = bytes(payload)
                if decoder == "real":
                    raise NotImplementedError(
                        "real PDF decode requires pdfium/poppler — not "
                        "installed in this sandbox; integration point "
                        "for production builds"
                    )
                if not raw.startswith(b"%FPDF"):
                    rows.append((did, 0, "", 0, "decode_error"))
                    continue
                for p, page in enumerate(raw[5:].decode("utf-8").split("\x1d")):
                    blocks = []
                    for blk in page.split("\x1e"):
                        y, x, text = blk.split("|", 2)
                        blocks.append((int(y), int(x), text))
                    blocks.sort()  # reading order: top-to-bottom, left-to-right
                    rows.append(
                        (did, p, "\n".join(t for _, _, t in blocks), len(blocks), "ok")
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "page", "text", "n_blocks", "status"]
            )

    return pruned.mapInPandas(kernel, PDF_PAGES_SCHEMA)
