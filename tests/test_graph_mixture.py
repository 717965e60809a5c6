"""Semantic tests for the round-3 corpus operators: repetition-filter
flag rules on planted spam, mixture-weight cap behavior, and the
decontamination hot-shingle cap (the oracle sweep in
test_queries_oracle checks cross-engine equality; these check the
operators MEAN what they say)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))
    df.write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_repetition_flags_planted_spam(spark, tmp_path):
    """A doc that is one token repeated must trip every rule; a doc of
    all-distinct tokens must trip none and have zero dup counts."""
    from text_extraction_evaluation_spark.plans.queries import quality_repetition

    spam = " ".join(["buy"] * 60)
    clean = " ".join(f"w{i}" for i in range(60))
    sf_dir = _write_docs(
        spark, tmp_path,
        [(1, spam, "en", "src1"), (2, clean, "en", "src1")],
    )
    out = {r["doc_id"]: r for r in quality_repetition(spark, sf_dir).collect()}
    assert out[1]["repetitive"] == 1
    assert out[1]["top_token_cnt"] == 60
    assert out[1]["dup_2gram_cnt"] == 58  # 59 bigrams, 1 distinct
    assert out[2]["repetitive"] == 0
    assert out[2]["dup_2gram_cnt"] == 0
    assert out[2]["dup_3gram_cnt"] == 0


def test_mixture_weights_inverse_to_share_and_capped(spark, tmp_path):
    """A tiny cell must get the capped maximum weight; a dominant cell
    must get a sub-1.0 (down-sampling) weight; shares sum to ~1e6."""
    from text_extraction_evaluation_spark.plans.queries import (
        MIXTURE_MAX_WEIGHT_E6,
        corpus_mixture_weights,
    )

    big = [(i, " ".join(["tok"] * 200), "en", "srcA") for i in range(50)]
    tiny = [(100, "one two three", "en", "srcB")]
    sf_dir = _write_docs(spark, tmp_path, big + tiny)
    out = {r["source"]: r for r in corpus_mixture_weights(spark, sf_dir).collect()}
    assert out["srcB"]["weight_e6"] == MIXTURE_MAX_WEIGHT_E6
    assert out["srcB"]["capped"] == 1
    assert out["srcA"]["weight_e6"] < 1_000_000  # down-sample the giant
    assert out["srcA"]["capped"] == 0
    share_sum = sum(r["share_e6"] for r in out.values())
    assert 1_000_000 - len(out) <= share_sum <= 1_000_000


def test_decontam_hot_shingle_capped(spark, tmp_path):
    """A shingle shared by more than DECONTAM_MAX_DF docs is boilerplate
    and must not create contamination hits on its own; a genuine
    bench-corpus copy through cold shingles must still be flagged."""
    from text_extraction_evaluation_spark.plans.queries import (
        DECONTAM_MAX_DF,
        DECONTAM_SHINGLE_N,
        benchmark_decontamination,
    )

    boiler = " ".join(f"b{i}" for i in range(DECONTAM_SHINGLE_N))
    # > cap docs all sharing ONE hot shingle, split across both sides
    # (sources src0-9 = corpus, src10+ = benchmark in the fixture rule)
    n_hot = DECONTAM_MAX_DF + 20
    rows = [
        (i, boiler, "en", "src1" if i % 2 == 0 else "src11")
        for i in range(n_hot)
    ]
    leak = " ".join(f"c{i}" for i in range(DECONTAM_SHINGLE_N + 4))
    rows += [(9_000, leak, "en", "src2"), (9_001, leak, "en", "src12")]
    sf_dir = _write_docs(spark, tmp_path, rows)

    out = {r["doc_id"]: r for r in benchmark_decontamination(spark, sf_dir).collect()}
    assert 9_000 in out  # the real leak is caught through cold shingles
    assert out[9_000]["n_bench_docs"] == 1
    assert all(d == 9_000 for d in out)  # hot-shingle clique suppressed
