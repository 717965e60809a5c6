"""Tests: lang-id, rolling fingerprints, truncated-prefix ANN recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF0001


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
