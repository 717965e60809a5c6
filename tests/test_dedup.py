"""Dedup operator tests: kernel-vs-JVM minhash equality, verified
near-dup pairs vs brute-force jaccard, keep-list semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF0001}/documents.parquet")


def test_minhash_kernel_equals_jvm_formulation(spark):
    from text_extraction_evaluation_spark.plans.queries import (
        dedup_minhash_lsh,
        dedup_minhash_lsh_jvm,
    )

    fast = {tuple(r) for r in dedup_minhash_lsh(spark, SF0001).collect()}
    jvm = {tuple(r) for r in dedup_minhash_lsh_jvm(spark, SF0001).collect()}
    assert fast == jvm
    assert len(fast) > 0


def test_verified_pairs_subset_of_bruteforce_and_finds_planted(spark, docs):
    from text_extraction_evaluation_spark.operators.dedup import (
        verified_near_dup_pairs,
    )
    from text_extraction_evaluation_spark.plans.queries import dedup_ngram_jaccard

    verified = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in verified_near_dup_pairs(docs, threshold=0.8).collect()
    }
    brute = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup_ngram_jaccard(spark, SF0001).collect()
    }
    # LSH+verify can only miss (probabilistic recall), never hallucinate:
    assert verified <= brute
    # the driver planted ~25 near-dup pairs at jaccard >= 0.9; LSH with
    # 4x4 bands catches essentially all of them
    assert len(verified) >= 0.9 * len(brute)


def test_dedup_keep_list_drops_one_side(spark, docs):
    from text_extraction_evaluation_spark.operators.dedup import (
        connected_components,
        dedup_keep_list,
        verified_near_dup_pairs,
    )

    pairs = verified_near_dup_pairs(docs, threshold=0.8)
    drops = {r["doc_id_b"] for r in pairs.collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}

    # greedy: drop exactly the larger side of every verified pair
    kept_g = {
        r["doc_id"]
        for r in dedup_keep_list(docs, threshold=0.8, method="greedy")
        .select("doc_id").collect()
    }
    assert kept_g.isdisjoint(drops)
    assert kept_g | drops == all_ids

    # components (default): exactly one survivor (the min id) per
    # duplicate group; singletons all survive
    comp = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    expect = (all_ids - set(comp)) | {c for c in comp.values()}
    kept_c = {
        r["doc_id"]
        for r in dedup_keep_list(docs, threshold=0.8).select("doc_id").collect()
    }
    assert kept_c == expect


def test_exact_dedup_on_duplicated_input(spark, docs):
    from text_extraction_evaluation_spark.plans.queries import dedup_exact

    # the operator plants a re-crawl of every 10th doc: one duplicate
    # group per planted re-crawl, each keeping the original id
    groups_df = dedup_exact(spark, SF0001)
    n_base = docs.count()
    assert groups_df.count() == n_base // 10
    assert groups_df.filter(F.col("keep_doc_id") >= 1_000_000).count() == 0
    # ...but a doubled corpus has every doc duplicated
    doubled = docs.unionByName(docs)
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    groups = (
        doubled.select(F.md5(norm).alias("fp"))
        .groupBy("fp")
        .count()
        .filter(F.col("count") > 1)
    )
    assert groups.count() == docs.count()


def test_banded_simhash_pairs_equal_brute(spark):
    """The registered banded (equi-join) SimHash pair plan is EXACT for
    Hamming <= 6 by the 7-band pigeonhole — equal rows to the all-pairs
    twin."""
    from text_extraction_evaluation_spark.plans.queries import (
        dedup_simhash_pairs,
        dedup_simhash_pairs_brute,
    )

    banded = {tuple(r) for r in dedup_simhash_pairs(spark, SF0001).collect()}
    brute = {tuple(r) for r in dedup_simhash_pairs_brute(spark, SF0001).collect()}
    assert banded == brute
    assert len(banded) > 0


def test_inverted_index_jaccard_equals_brute(spark):
    from text_extraction_evaluation_spark.plans.queries import (
        dedup_ngram_jaccard,
        dedup_ngram_jaccard_brute,
    )

    inv = {tuple(r) for r in dedup_ngram_jaccard(spark, SF0001).collect()}
    brute = {tuple(r) for r in dedup_ngram_jaccard_brute(spark, SF0001).collect()}
    assert inv == brute
    assert len(inv) > 0


def test_prefix_filter_jaccard_is_lossless(spark):
    """The prefix-filter theorem in practice: dedup_jaccard_prefix
    (candidates only from each doc's rarest-L-shingle prefix) must
    equal the brute all-pairs twin EXACTLY — unlike the df-capped
    inverted index, which changes the metric on hot-key corpora."""
    from text_extraction_evaluation_spark.plans.queries import (
        dedup_jaccard_prefix,
        dedup_ngram_jaccard_brute,
    )

    pref = {tuple(r) for r in dedup_jaccard_prefix(spark, SF0001).collect()}
    brute = {tuple(r) for r in dedup_ngram_jaccard_brute(spark, SF0001).collect()}
    assert pref == brute
    assert len(pref) > 0


def test_degenerate_bucket_is_star_reduced(spark):
    """A pathological LSH bucket (one boilerplate text crawled n times)
    must emit O(n) star pairs, not O(n^2) — and stay one CC component."""
    from text_extraction_evaluation_spark.operators.dedup import (
        candidate_pairs,
        connected_components,
        minhash_band_rows,
    )

    n = 120
    rows = [(i, "the same boilerplate text repeated for every crawl of this page") for i in range(n)]
    rows += [(1000, "a completely different document about gardening tools and soil"),
             (1001, "a completely different document about gardening tools and dirt")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bands = minhash_band_rows(docs)

    capped = candidate_pairs(bands, max_bucket_size=20).collect()
    capped_pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in capped}
    # star reduction: every degenerate-bucket member pairs with the hub
    # (min id 0) exactly once after distinct -> n-1 pairs, not n*(n-1)/2
    star = {p for p in capped_pairs if p[0] == 0}
    assert len(star) == n - 1
    assert all(p[0] == 0 or p[0] >= 1000 for p in capped_pairs)
    # the small gardening bucket still gets ordinary all-pairs treatment
    assert (1000, 1001) in capped_pairs
    # grouping is preserved: one component covering all n boilerplate docs
    comp = connected_components(
        spark.createDataFrame(list(capped_pairs), "doc_id_a long, doc_id_b long")
    ).collect()
    boiler = {r["doc_id"] for r in comp if r["component"] == 0}
    assert boiler == set(range(n))

    # uncapped (default threshold far above the fixture) = full quadratic set
    full = candidate_pairs(bands).collect()
    assert len({(r["doc_id_a"], r["doc_id_b"]) for r in full}) == n * (n - 1) // 2 + 1


def test_connected_components_vs_union_find(spark):
    from text_extraction_evaluation_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (3, 4)]
    df = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    got = {r["doc_id"]: r["component"] for r in connected_components(df).collect()}

    # pure-python union-find oracle
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}
    # normalize to min-id representative
    comps = {}
    for x, r in want.items():
        comps.setdefault(find(r), []).append(x)
    want_min = {x: min(members) for root, members in comps.items() for x in members}
    assert got == want_min


def test_components_chain_converges(spark):
    # a 40-node path graph needs ~log rounds with closed-neighborhood
    # min propagation; assert convergence within max_iter
    from text_extraction_evaluation_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    got = {r["doc_id"]: r["component"] for r in connected_components(df).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 41


def test_operators_tolerate_empty_input(spark):
    """Empty corpora/edge lists must not crash the dedup tier — the
    boundary a chunked 100 TB run hits whenever a chunk's filter
    matches nothing."""
    from text_extraction_evaluation_spark.operators.dedup import (
        candidate_pairs,
        connected_components,
        minhash_band_rows,
        verified_near_dup_pairs,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    bands = minhash_band_rows(empty_docs)
    assert candidate_pairs(bands).count() == 0
    assert verified_near_dup_pairs(empty_docs).count() == 0
    empty_edges = spark.createDataFrame([], "doc_id_a long, doc_id_b long")
    assert connected_components(empty_edges).count() == 0


def test_hot_key_caps_bound_pair_blowup(spark, tmp_path):
    """Planted hot key: a boilerplate clique larger than the df cap
    must NOT emit its O(k^2) pairs from the exact sketch equi-joins
    (dedup_ngram_jaccard / doc_containment), while genuinely
    overlapping documents still pair through their cold keys."""
    from text_extraction_evaluation_spark.plans.queries import (
        NGRAM_MAX_DF,
        dedup_ngram_jaccard,
        doc_containment,
    )

    n_hot = NGRAM_MAX_DF + 44  # clique over the cap: 44850 pairs uncapped
    boiler = "subscribe to our newsletter click here for daily updates now " * 2
    rows = [(i, boiler.strip(), "en", "src0") for i in range(n_hot)]
    uniq = [f"uniq{i}" for i in range(120)]
    ua = " ".join(uniq)
    ub = " ".join(uniq[:119]) + " other"
    rows += [(10_000, ua, "en", "src0"), (10_001, ub, "en", "src0")]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))
    df.write.parquet(str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    jac = dedup_ngram_jaccard(spark, sf_dir).collect()
    jac_pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in jac}
    assert (10_000, 10_001) in jac_pairs  # cold-key overlap survives
    assert all(a >= 10_000 for a, _ in jac_pairs)  # hot clique suppressed
    assert len(jac) < 10  # vs C(300, 2) = 44850 without the cap

    cont = doc_containment(spark, sf_dir).collect()
    cont_pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in cont}
    assert (10_000, 10_001) in cont_pairs
    assert all(a >= 10_000 for a, _ in cont_pairs)
    assert len(cont) < 10


def test_dup_span_census_and_clean_on_planted_spans(spark, tmp_path):
    """ExactSubstr tier: a 20-token run S planted in two docs (and
    twice inside a third) must surface as merged maximal spans with
    exact boundaries; cleaning must drop exactly those tokens and pin
    the remainder byte-for-byte."""
    import hashlib

    from pyspark.sql import functions as F

    from text_extraction_evaluation_spark.plans.queries import (
        DUP_SPAN_L,
        dup_span_census,
        dup_span_clean,
    )

    assert DUP_SPAN_L == 15  # boundary math below assumes it
    S = [f"s{i}" for i in range(20)]
    a = [f"a{i}" for i in range(9)] + S + [f"a{i}" for i in range(9, 20)]
    b = [f"b{i}" for i in range(4)] + S + [f"b{i}" for i in range(4, 10)]
    c = [f"c{i}" for i in range(25)]  # no duplicates anywhere
    d = [f"d{i}" for i in range(9)] + S + S + [f"d{i}" for i in range(9, 14)]
    rows = [
        (1, " ".join(a), "en", "src0"),
        (2, " ".join(b), "en", "src0"),
        (3, " ".join(c), "en", "src0"),
        (4, " ".join(d), "en", "src0"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))
    df.write.parquet(str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    census = {r["doc_id"]: r for r in dup_span_census(spark, sf_dir).collect()}
    assert set(census) == {1, 2, 4}  # doc 3 untouched
    assert (census[1]["n_dup_spans"], census[1]["dup_tokens"]) == (1, 20)
    assert (census[2]["n_dup_spans"], census[2]["dup_tokens"]) == (1, 20)
    # in-doc repeat: two adjacent S copies merge into TWO maximal
    # spans (cross-boundary windows are unique, so the merge stops at
    # the copy boundary), covering exactly both copies
    assert (census[4]["n_dup_spans"], census[4]["dup_tokens"]) == (2, 40)

    clean = {r["doc_id"]: r for r in dup_span_clean(spark, sf_dir).collect()}
    assert clean[1]["n_kept"] == 20 and clean[2]["n_kept"] == 10
    assert clean[3]["n_kept"] == 25 and clean[4]["n_kept"] == 14
    want_a = " ".join(t for t in a if not t.startswith("s"))
    assert clean[1]["clean_fp"] == hashlib.md5(want_a.encode()).hexdigest()
    assert clean[3]["clean_fp"] == hashlib.md5(" ".join(c).encode()).hexdigest()


def test_threshold_sweep_monotone_and_consistent(spark):
    """The sweep is a census over ONE verified candidate pass: counts
    must be non-increasing in the threshold, and the 800-permille row
    must equal the registered dedup_minhash_verified pair count exactly
    (floored integer permille >= 800 <=> jaccard >= 0.8)."""
    from text_extraction_evaluation_spark.plans.queries import (
        dedup_minhash_verified,
        dedup_threshold_sweep,
    )

    sf = SF0001
    rows = {
        r["threshold_permille"]: r
        for r in dedup_threshold_sweep(spark, sf).collect()
    }
    assert sorted(rows) == [500, 600, 700, 800, 900]
    pairs = [rows[t]["n_pairs"] for t in sorted(rows)]
    docs = [rows[t]["n_docs"] for t in sorted(rows)]
    assert pairs == sorted(pairs, reverse=True)
    assert docs == sorted(docs, reverse=True)
    n_verified = dedup_minhash_verified(spark, sf).count()
    assert rows[800]["n_pairs"] == n_verified


def test_stopword_discovery_ranks_and_stoplist_hits(spark):
    """Top-15 df ranking per language: ranks are 1..15, df is
    non-increasing along the rank order, and every language's head
    contains at least one frozen-stoplist token (the synthetic corpus
    plants stopwords per language by construction)."""
    from text_extraction_evaluation_spark.plans.queries import stopword_discovery

    rows = stopword_discovery(spark, SF0001).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == {"en", "fr", "es", "zh", "de"}
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, 16))
        dfs = [r["df"] for r in rs]
        assert dfs == sorted(dfs, reverse=True)
        assert any(r["in_stoplist"] for r in rs), lang


def test_banding_sweep_monotone_and_4x4_matches_lsh(spark):
    """Wider bands are strictly harder to collide: candidate pairs must
    be monotone non-decreasing from 2x8 -> 4x4 -> 8x2 (an 8-wide band
    agreement implies agreement on both 4-wide halves, etc.), and the
    4x4 row must equal the registered dedup_minhash_lsh candidate set
    (same seeds, same banding)."""
    from text_extraction_evaluation_spark.plans.queries import (
        dedup_banding_sweep,
        dedup_minhash_lsh,
    )

    rows = {r["cfg"]: r for r in dedup_banding_sweep(spark, SF0001).collect()}
    assert set(rows) == {"2x8", "4x4", "8x2"}
    assert rows["2x8"]["n_pairs"] <= rows["4x4"]["n_pairs"] <= rows["8x2"]["n_pairs"]
    assert (
        rows["2x8"]["n_docs_in_pairs"]
        <= rows["4x4"]["n_docs_in_pairs"]
        <= rows["8x2"]["n_docs_in_pairs"]
    )
    for r in rows.values():
        assert r["n_buckets_multi"] <= r["n_buckets"]
    assert rows["4x4"]["n_pairs"] == dedup_minhash_lsh(spark, SF0001).count()
