"""Tests: ANN (brute vs LSH recall), multimodal plumbing, lang-id,
rolling fingerprints."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001

QUERIES = list(range(10))


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF0001}/embeddings.parquet").repartition(8, "vec_id")


def test_brute_force_topk_matches_numpy(spark, emb):
    import numpy as np

    from text_extraction_evaluation_spark.operators.similarity import brute_force_topk

    got = brute_force_topk(emb, QUERIES, k=5).collect()
    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    V = np.stack(pdf.embedding.values).astype(np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    ids = pdf.vec_id.values
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["nn_rank"], r["neighbor_id"]))
    for q in QUERIES:
        qi = list(ids).index(q)
        sims = Vn @ Vn[qi]
        order = [int(ids[j]) for j in np.argsort(-sims) if ids[j] != q][:5]
        spark_order = [n for _, n in sorted(by_q[q])]
        assert spark_order == order, f"query {q}"


def test_ann_lsh_recall_and_subset(spark, emb):
    from text_extraction_evaluation_spark.operators.similarity import (
        ann_lsh_topk,
        brute_force_topk,
    )

    exact = brute_force_topk(emb, QUERIES, k=5).collect()
    approx = ann_lsh_topk(emb, QUERIES, k=5, n_planes=8, multiprobe=2).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # isotropic random vectors are LSH's worst case; with 8 planes and
    # hamming<=2 multiprobe the analytic expectation is ~0.4-0.5
    assert recall >= 0.2, f"recall {recall}"
    # approx scores must be true cosines: every approx hit that is also
    # an exact hit carries the same cosine
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert abs(exact_cos[key] - r["cos"]) < 1e-12


def test_lsh_buckets_deterministic(spark, emb):
    from text_extraction_evaluation_spark.operators.similarity import rp_lsh_buckets

    a = {tuple(r) for r in rp_lsh_buckets(emb).collect()}
    b = {tuple(r) for r in rp_lsh_buckets(emb).collect()}
    assert a == b
    assert len(a) == emb.count()


def test_multimodal_plumbing(spark):
    from text_extraction_evaluation_spark.operators.multimodal import (
        extract_media_features,
        synth_media_df,
    )

    media = synth_media_df(spark, n=48).cache()
    feats = extract_media_features(media, dim=16).collect()
    assert len(feats) == 48
    for r in feats:
        assert r["feat_dim"] == 16 and len(r["feature"]) == 16
        assert r["status"] == "ok" and r["n_bytes"] > 0
    # deterministic across runs
    again = extract_media_features(media, dim=16).collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))


def test_real_decoder_raises(spark):
    from text_extraction_evaluation_spark.operators.multimodal import (
        extract_media_features,
        synth_media_df,
    )

    media = synth_media_df(spark, n=6)
    with pytest.raises(Exception, match="NotImplementedError|real decode"):
        extract_media_features(media, decoder="real").collect()


def test_lang_id_on_real_sentences(spark):
    from text_extraction_evaluation_spark.operators.textstats import detect_lang, lang_id

    samples = {
        "en": "the quick brown fox is jumping over the lazy dog and running of course",
        "fr": "le chat est sur la table et il mange que de la nourriture un peu",
        "es": "el perro come la comida que está en la casa de los amigos",
        "de": "der hund und die katze sind ein schönes gespann und gehen ins haus",
        "zh": "我们在中国的大城市里说话他们来了",
    }
    for lang, text in samples.items():
        got, score = detect_lang(text)
        assert got == lang, f"{lang}: got {got} ({score})"

    df = spark.createDataFrame(
        [(i, lang, text) for i, (lang, text) in enumerate(samples.items())],
        "doc_id long, lang string, text string",
    )
    rows = {r["lang"]: r["detected_lang"] for r in lang_id(df).collect()}
    assert rows == {k: k for k in samples}


def test_rolling_fingerprints(spark):
    from text_extraction_evaluation_spark.operators.textstats import rolling_fingerprints

    docs = spark.read.parquet(f"{SF0001}/documents.parquet").limit(100)
    fp = rolling_fingerprints(docs).collect()
    assert fp, "no fingerprints emitted"
    # identical docs share all fingerprints
    one = docs.limit(1)
    doubled = one.unionByName(one.withColumn("doc_id", F.col("doc_id") + 1000000))
    rows = rolling_fingerprints(doubled).collect()
    a = {r["fingerprint"] for r in rows if r["doc_id"] < 1000000}
    b = {r["fingerprint"] for r in rows if r["doc_id"] >= 1000000}
    assert a == b and a


def test_pdf_extract_pages_layout_order(spark):
    import hashlib

    from text_extraction_evaluation_spark.operators.multimodal import (
        pdf_extract_pages,
        synth_pdf_df,
    )

    pdfs = synth_pdf_df(spark, n=32)
    pages = pdf_extract_pages(pdfs).collect()
    # one row per (doc, page); doc d has 1 + d % 4 pages
    assert len(pages) == sum(1 + d % 4 for d in range(32))
    assert all(r["status"] == "ok" for r in pages)
    # reading order recomputed independently for doc 5 page 0
    did, p = 5, 0
    expect = []
    for b in range(2 + (did + p) % 3):
        seed = hashlib.sha256(f"{did}-{p}-{b}".encode()).digest()
        expect.append((seed[0] % 100, seed[1] % 50, f"block {did}.{p}.{b} word{seed[2] % 7}"))
    expect.sort()
    got = next(r for r in pages if r["doc_id"] == did and r["page"] == p)
    assert got["text"] == "\n".join(t for _, _, t in expect)
    assert got["n_blocks"] == len(expect)


def test_pdf_extract_pages_corrupt_and_real_stub(spark):
    import pytest as _pytest

    from text_extraction_evaluation_spark.operators.multimodal import pdf_extract_pages

    bad = spark.createDataFrame(
        [(99, bytearray(b"not a pdf"), 1)], "doc_id long, payload binary, n_pages int"
    )
    rows = pdf_extract_pages(bad).collect()
    assert [(r["doc_id"], r["status"], r["text"]) for r in rows] == [(99, "decode_error", "")]
    with _pytest.raises(Exception, match="NotImplementedError|pdfium"):
        pdf_extract_pages(bad, decoder="real").collect()


def test_kmeans_embeddings_converges_and_stays_mapside(spark):
    from tests.conftest import SF0001
    from text_extraction_evaluation_spark.plans.queries import kmeans_embeddings

    out = kmeans_embeddings(spark, SF0001, k=8, iters=3)
    rows = out.collect()
    cids = {r["cid"] for r in rows}
    assert cids <= set(range(8)) and len(cids) >= 2
    # every vector is in exactly one cluster
    per_cid = {r["cid"]: r["n_members"] for r in rows}
    assert sum(per_cid.values()) == 500
    # 64 dims per surviving centroid
    import collections
    dims = collections.Counter(r["cid"] for r in rows)
    assert all(v == 64 for v in dims.values())
    # assignment is map-side argmin: the corpus never shuffles on vec_id
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(vec_id" not in plan


def test_dim_truncation_recall_bounds_and_numpy_twin(spark):
    """Truncated-prefix recall@5: bounded, 10 query rows, and the
    truncated top-5 neighbor sets equal a numpy recomputation of
    cosine over the first TRUNC_DIMS dims (exact same tie-break)."""
    import numpy as np
    import pandas as pd

    from tests.conftest import SF0001
    from text_extraction_evaluation_spark.plans.queries import (
        TRUNC_DIMS,
        ann_dim_truncation_recall,
    )

    rows = {r["query_id"]: r for r in ann_dim_truncation_recall(spark, SF0001).collect()}
    assert sorted(rows) == list(range(10))
    for r in rows.values():
        assert 0 <= r["n_hits"] <= 5
        assert r["recall_at_5"] == round(r["n_hits"] / 5.0, 6)

    emb = pd.read_parquet(f"{SF0001}/embeddings.parquet")
    V = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    Vt = V[:, :TRUNC_DIMS]
    Vf = V
    def top5(M, qi):
        q = M[ids == qi][0]
        cos = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
        order = sorted(
            [(c, int(i)) for c, i in zip(cos, ids) if i != qi],
            key=lambda t: (-t[0], t[1]),
        )
        return {i for _, i in order[:5]}
    for qi in range(10):
        hits = len(top5(Vt, qi) & top5(Vf, qi))
        assert rows[qi]["n_hits"] == hits
