"""Lexical / LM-mixture analytics over `documents`: TF-IDF, TextRank,
readability, count-min heavy hitters, decontamination + clean, source
overlap, repetition, mixture planning, shard assignment, vocabulary
growth, token entropy, stopword discovery.

Split out of plans/q_corpus.py (round 4) to keep plan files under
2,000 lines; each query function stays adjacent to its DuckDB SQL
twin. Registered into plans.queries.SQL_CHECKED via _REGISTRY.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import md5_int, tokens_col, word_shingles, word_shingles_all
from .common import (  # noqa: F401 — shared helpers + SQL fragments
    STOPWORDS_SORTED,
    _STOP_SQL,
    _docs_par,
)


def readability_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability profiling per language: sentence/word/syllable
    counts and the Flesch reading-ease score — the classic
    text-difficulty gate a curation mix applies next to the C4/Gopher
    heuristics (e.g. keep a target band, or stratify the mix by it).

    Syllables are approximated as vowel-group runs ``[aeiouy]+`` (the
    standard cheap estimator; a space or consonant breaks the run, so
    the text-level count equals the per-word sum). Flesch is computed
    at the LANGUAGE level from exact BIGINT sums —
    ``206.835 - 1.015*(W/S) - 84.6*(Y/W)`` — one fixed IEEE expression
    over exact integers, so it cannot drift with aggregation order or
    engine.

    Scale shape: all three counters are map-side JVM regex/array
    expressions folded by one (lang) hash aggregate with map-side
    combine; no shuffle of text, no window, no join."""
    docs = _docs_par(spark, sf_dir)
    sentences = F.size(
        F.filter(
            F.split("text", r"[.!?]+"),
            lambda x: F.length(F.trim(x)) > 0,
        )
    ).cast("bigint")
    words = F.size(tokens_col("text")).cast("bigint")
    syllables = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0)
    ).cast("bigint")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(sentences).alias("n_sentences"),
        F.sum(words).alias("n_words"),
        F.sum(syllables).alias("n_syllables"),
    )
    s = F.greatest("n_sentences", F.lit(1)).cast("double")
    w = F.greatest("n_words", F.lit(1)).cast("double")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / s)
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / w)
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_sentences",
        "n_words",
        "n_syllables",
        F.round(flesch, 6).alias("flesch"),
    )


_READABILITY_SQL = """
WITH c AS (
  SELECT lang,
         CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
                              x -> trim(x) <> '')) AS BIGINT) AS s,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS y
  FROM documents
), agg AS (
  SELECT lang, COUNT(*) AS n_docs, SUM(s) AS n_sentences,
         SUM(w) AS n_words, SUM(y) AS n_syllables
  FROM c GROUP BY 1
)
SELECT lang, n_docs,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       ROUND(206.835
             - 1.015 * (CAST(n_words AS DOUBLE)
                        / CAST(GREATEST(n_sentences, 1) AS DOUBLE))
             - 84.6 * (CAST(n_syllables AS DOUBLE)
                       / CAST(GREATEST(n_words, 1) AS DOUBLE)), 6) AS flesch
FROM agg
"""


# Count-min sketch (Cormode & Muthukrishnan 2005) dimensions: depth
# (independent hash rows) x width (buckets per row). 4x512 keeps the
# counter table at 2048 rows — broadcastable — while still showing
# real collision overestimates on the fixture vocabulary.
CMS_DEPTH = 4
CMS_WIDTH = 512
CMS_TOPK = 20


def _cms_bucket(c: Column, i: int) -> Column:
    """Row-``i`` bucket for a term: md5 position family (engine-
    portable, same convention as the Bloom ``bloom_positions_md5``)."""
    return F.pmod(
        md5_int(F.concat(c, F.lit(f"#cms{i}"))), F.lit(CMS_WIDTH)
    )


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter census through a count-min sketch: build the
    DEPTH x WIDTH counter table distributed, then report the sketch
    estimate next to the exact count for the top-``CMS_TOPK`` terms —
    the overestimate column is the sketch's collision error, which the
    CM guarantee bounds by eps*N with probability 1-delta.

    Scale shape: the corpus-sized stage is the term hash-aggregate
    (map-side combine -> vocabulary). Counter build then explodes the
    VOCABULARY by depth (4 rows/term) into a bounded groupBy — the
    counter table is at most DEPTH*WIDTH rows regardless of corpus
    size, exactly the property that makes CMS the streaming/merge-
    friendly frequency sketch (counters merge by +, the same
    associative combine a 1000-executor partial agg performs). Probes
    equi-join the 20 query terms against the broadcast counter table
    and take min over depth. The top-k window is a global sort over
    the vocabulary table, not the corpus."""
    docs = _docs_par(spark, sf_dir)
    words = docs.select(
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("term")
    )
    tf = (
        words.filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    depth_structs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).cast("int").alias("i"),
                    _cms_bucket(F.col("term"), i).alias("b"),
                )
                for i in range(CMS_DEPTH)
            ]
        )
    ).alias("ib")
    counters = (
        tf.select("n", depth_structs)
        .groupBy(F.col("ib.i").alias("i"), F.col("ib.b").alias("b"))
        .agg(F.sum("n").alias("cnt"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    top = (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= CMS_TOPK)
    )
    probes = top.select("term", "n", "rank", depth_structs).select(
        "term", "n", "rank", F.col("ib.i").alias("i"), F.col("ib.b").alias("b")
    )
    return (
        probes.join(F.broadcast(counters), ["i", "b"])
        .groupBy("term", "n", "rank")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "term",
            F.col("n").alias("true_n"),
            "cms_est",
            (F.col("cms_est") - F.col("n")).alias("overestimate"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


_CMS_IDS = ", ".join(str(i) for i in range(CMS_DEPTH))

_CMS_SQL = f"""
WITH w AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT term, COUNT(*) AS n FROM w WHERE term <> '' GROUP BY 1
), ids AS (
  SELECT unnest([{_CMS_IDS}]) AS i
), cells AS (
  SELECT n, i,
         ('0x' || substr(md5(term || '#cms' || i), 1, 15))::BIGINT
           % {CMS_WIDTH} AS b
  FROM tf CROSS JOIN ids
), counters AS (
  SELECT i, b, SUM(n) AS cnt FROM cells GROUP BY 1, 2
), top AS (
  SELECT term, n, rank FROM (
    SELECT term, n, ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rank
    FROM tf
  ) WHERE rank <= {CMS_TOPK}
), probes AS (
  SELECT term, n, rank, i,
         ('0x' || substr(md5(term || '#cms' || i), 1, 15))::BIGINT
           % {CMS_WIDTH} AS b
  FROM top CROSS JOIN ids
)
SELECT term, CAST(n AS BIGINT) AS true_n, CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - n AS BIGINT) AS overestimate, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT term, n, rank, MIN(cnt) AS cms_est
  FROM probes JOIN counters USING (i, b) GROUP BY 1, 2, 3
)
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-5 terms per language by corpus-summed tf-idf — the
    keyword/vocabulary profiling step of a training-data mix report.

    Cross-engine exactness: idf is the INTEGER-quantized variant
    ``idf_e6 = (N_docs * 1e6) DIV df`` (a pure inverse-document-
    frequency ratio, no transcendental log whose last ulp could differ
    between engines), so every score is an exact BIGINT sum.

    Scale shape: one explode -> (doc, term) hash aggregate for tf, one
    (term) aggregate for df, then an EQUI-join of tf onto the df table
    on the term key — at 100 TB the term dictionary is itself large, so
    this is a plain shuffle join (NOT a broadcast; AQE may still elect
    one at small scale). N_docs rides in as a broadcast one-row
    aggregate, never a driver action (it shows as a
    BroadcastNestedLoopJoin in the plan, but with a single-row build
    side that is an O(n) map-side attach — the same pattern as
    dedup_exact's offset). The final top-5 is a per-lang ranking window
    over the (lang, term) aggregate — tie-broken on the term for
    determinism."""
    docs = _docs_par(spark, sf_dir)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens_col("text")).alias("term")
    ).select("doc_id", "lang", F.lower("term").alias("term"))
    tf = toks.groupBy("doc_id", "lang", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_tbl, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "idf_e6",
            F.expr("(n_docs * CAST(1000000 AS BIGINT)) DIV df"),
        )
        .groupBy("lang", "term")
        .agg(F.sum(F.col("tf") * F.col("idf_e6")).alias("score_e6"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score_e6"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 5)
        .select("lang", "term", "score_e6", "term_rank")
    )


_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id, lang, lower(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS term
  FROM documents
), tf AS (
  SELECT doc_id, lang, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2, 3
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT lang, term,
         CAST(SUM(tf * ((SELECT COUNT(*) FROM documents) * 1000000 // df)) AS BIGINT)
           AS score_e6
  FROM tf JOIN df USING (term)
  GROUP BY 1, 2
)
SELECT lang, term, score_e6, term_rank
FROM (
  SELECT lang, term, score_e6,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score_e6 DESC, term) AS term_rank
  FROM scored
)
WHERE term_rank <= 5
"""


def _bigram_structs(tok):
    """Positional (w1, w2) bigrams as an array of structs — slice+zip
    (O(n) per row) rather than per-index element_at (O(n^2)); see
    functions.text.word_shingles_all for the measured rationale."""
    length = F.greatest(F.size(tok) - 1, F.lit(0))
    pre = F.slice(tok, 1, length)
    suf = F.slice(tok, 2, length)
    return F.zip_with(
        pre, suf, lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))
    )


# TextRank (Mihalcea & Tarau 2004) constants: the published damping
# d = 0.85 as the exact integer pair 85/100; ranks live in micro-units
# so the whole power iteration is BIGINT-exact in both engines.
TEXTRANK_ITERS = 5
TEXTRANK_SCALE = 1_000_000
TEXTRANK_TOPK = 25


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: weighted PageRank over the token
    co-occurrence graph (Mihalcea & Tarau 2004). Nodes = lowercased
    corpus vocabulary, edges = adjacent-token pairs (symmetrized,
    weight = adjacency count, self-loops dropped), 5 damped power
    iterations, top-25 keywords. This is the iterative
    graph-centrality family in its text-native form — the identical
    operator shape runs host-level PageRank over a crawl's link graph
    (``outlink_path_census`` builds those edges); only the edge
    derivation differs.

    Scale shape: edges are one explode -> (u, v) hash aggregate with
    map-side combine; the out-weight rides a window over the SAME u
    partitioning (exchange reused, no second shuffle). Each iteration
    is one rank⋈edges equi-join on the node key plus one (v) hash
    aggregate — the canonical distributed PageRank step: at web scale
    the rank table is vocabulary/host-sized, so the join shuffles both
    sides on the node key (a production run persists ``edges``
    bucketed by u so only ranks move per iteration; here the unrolled
    lineage keeps the query a pure DataFrame composition with zero
    driver actions). The final top-k is a
    distributed TakeOrdered, then a rank window over only the
    surviving k rows.

    Determinism: ranks are BIGINT micro-units; each edge contribution
    is ``(w * r) DIV outw`` and the damped update is
    ``0.15*SCALE + (85 * sum) DIV 100`` — truncating integer division
    and order-independent BIGINT sums in both engines. Every node of
    the symmetrized graph has >= 1 in-edge, so the per-iteration
    aggregate covers the whole node set and no outer join is needed."""
    docs = _docs_par(spark, sf_dir)
    adj = (
        docs.select(
            F.explode(_bigram_structs(tokens_col(F.lower(F.col("text"))))).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .filter(F.col("w1") != F.col("w2"))
    )
    sym = adj.select(F.col("w1").alias("u"), F.col("w2").alias("v")).unionAll(
        adj.select(F.col("w2").alias("u"), F.col("w1").alias("v"))
    )
    edges = (
        sym.groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .withColumn("outw", F.sum("w").over(Window.partitionBy("u")))
    )
    base = 15 * TEXTRANK_SCALE // 100
    ranks = (
        edges.select("u")
        .distinct()
        .withColumn("r", F.lit(TEXTRANK_SCALE).cast("bigint"))
    )
    for _ in range(TEXTRANK_ITERS):
        contrib = edges.join(ranks, "u").select(
            "v", F.expr("(w * r) DIV outw").alias("c")
        )
        ranks = (
            contrib.groupBy("v")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("v").alias("u"),
                F.expr(f"CAST({base} + (85 * s) DIV 100 AS BIGINT)").alias("r"),
            )
        )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    top = (
        ranks.join(deg, "u")
        .orderBy(F.desc("r"), F.asc("u"))
        .limit(TEXTRANK_TOPK)
    )
    wtop = Window.orderBy(F.desc("r"), F.asc("u"))
    return top.select(
        F.col("u").alias("token"),
        "degree",
        F.col("r").alias("score_q6"),
        F.row_number().over(wtop).alias("kw_rank"),
    )


def _textrank_sql(
    iters: int = TEXTRANK_ITERS,
    scale: int = TEXTRANK_SCALE,
    topk: int = TEXTRANK_TOPK,
) -> str:
    base = 15 * scale // 100
    step = (
        "SELECT e.v AS u, CAST({base} + (85 * SUM((e.w * r.r) // e.outw)) // 100"
        " AS BIGINT) AS r FROM edges e JOIN r{i} r USING (u) GROUP BY e.v"
    )
    iter_ctes = ",\n".join(
        f"r{i + 1} AS ({step.format(base=base, i=i)})" for i in range(iters)
    )
    return f"""
WITH t AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
), bg AS (
  SELECT unnest([{{'w1': w[i], 'w2': w[i+1]}} for i in range(1, len(w))]) AS b
  FROM t WHERE len(w) >= 2
), adj AS (
  SELECT b.w1 AS w1, b.w2 AS w2 FROM bg WHERE b.w1 <> b.w2
), sym AS (
  SELECT w1 AS u, w2 AS v FROM adj
  UNION ALL
  SELECT w2 AS u, w1 AS v FROM adj
), edges AS (
  SELECT u, v, COUNT(*) AS w, SUM(COUNT(*)) OVER (PARTITION BY u) AS outw
  FROM sym GROUP BY u, v
), r0 AS (
  SELECT DISTINCT u, CAST({scale} AS BIGINT) AS r FROM edges
),
{iter_ctes},
deg AS (SELECT u, COUNT(*) AS degree FROM edges GROUP BY u)
SELECT token, degree, score_q6, kw_rank FROM (
  SELECT r.u AS token, d.degree AS degree, r.r AS score_q6,
         ROW_NUMBER() OVER (ORDER BY r.r DESC, r.u) AS kw_rank
  FROM r{iters} r JOIN deg d USING (u)
)
WHERE kw_rank <= {topk}
"""


# Decontamination: 8-token shingles (the n-gram length common in
# published decontamination pipelines — long enough that shared
# shingles imply copying, not phrase reuse).
DECONTAM_SHINGLE_N = 8
DECONTAM_MAX_DF = 256


def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training-corpus documents whose
    8-token shingles collide with the held-out benchmark split — the
    train/test-leak check every serious pretraining mix runs. Here the
    'benchmark' is the googlenews half of the fixture corpus (sources
    src10..src19) and the 'training corpus' is the rest; the fixture's
    planted cross-source near-dups make the answer non-empty.

    Scale shape: both sides explode to (doc_id, shingle) and meet in a
    shingle EQUI-join — the shuffle carries sketches, never documents.
    The same hot-key df cap as dedup_ngram_jaccard (> DECONTAM_MAX_DF
    docs ⇒ boilerplate, dropped from index AND size terms via a COUNT
    window over the shingle key, exchange-reused by the join) bounds
    the worst key at O(k) instead of O(k^2); standard decontamination
    drops ultra-common n-grams for the same reason. Output: one row per contaminated corpus doc with
    the hit counts and the contaminated fraction of its shingles."""
    docs = _docs_par(spark, sf_dir)
    is_bench = F.substring("source", 4, 10).cast("int") >= 10
    sh = docs.select(
        "doc_id",
        is_bench.alias("is_bench"),
        word_shingles(tokens_col("text"), n=DECONTAM_SHINGLE_N).alias("sh"),
    ).filter(F.size("sh") > 0)
    inv = (
        sh.select("doc_id", "is_bench", F.explode("sh").alias("s"))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("s")))
        .filter(F.col("df") <= DECONTAM_MAX_DF)
        .drop("df")
    )
    corpus = inv.filter(~F.col("is_bench")).select("doc_id", "s")
    bench = inv.filter(F.col("is_bench")).select(
        F.col("doc_id").alias("bench_doc_id"), "s"
    )
    sizes = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corpus.join(bench, "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("s").alias("n_hits"),
            F.countDistinct("bench_doc_id").alias("n_bench_docs"),
        )
    )
    contamination = F.round(
        F.col("n_hits").cast("double") / F.col("n_shingles"), 6
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id", "n_shingles", "n_hits", "n_bench_docs",
        contamination.alias("contamination"),
    )


_DECONTAM_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(substr(source, 4) AS INT) >= 10 AS is_bench,
         regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), sh AS (
  SELECT doc_id, is_bench,
         list_distinct([array_to_string(w[i:i+{DECONTAM_SHINGLE_N - 1}], ' ')
                        for i in range(1, len(w) - {DECONTAM_SHINGLE_N - 2})]) AS sl
  FROM t WHERE len(w) >= {DECONTAM_SHINGLE_N}
), inv AS (
  SELECT doc_id, is_bench, unnest(sl) AS s FROM sh
), cold AS (
  SELECT s FROM inv GROUP BY s HAVING COUNT(*) <= {DECONTAM_MAX_DF}
), inv2 AS (
  SELECT inv.doc_id, inv.is_bench, inv.s FROM inv JOIN cold USING (s)
), corpus AS (
  SELECT doc_id, s FROM inv2 WHERE NOT is_bench
), bench AS (
  SELECT doc_id AS bench_doc_id, s FROM inv2 WHERE is_bench
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id
), hits AS (
  SELECT doc_id, COUNT(DISTINCT s) AS n_hits,
         COUNT(DISTINCT bench_doc_id) AS n_bench_docs
  FROM corpus JOIN bench USING (s)
  GROUP BY doc_id
)
SELECT h.doc_id, n_shingles, n_hits, n_bench_docs,
       ROUND(CAST(n_hits AS DOUBLE) / n_shingles, 6) AS contamination
FROM hits h JOIN sizes USING (doc_id)
"""


def decontamination_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination DELIVERABLE: the census's sibling clean
    pass (same pairing as dup_span_census/clean and line_dedup
    census/clean) — drop every training document with ANY benchmark
    shingle hit and pin the surviving corpus per language: doc count,
    dropped count, kept token budget, and a fingerprint SUM over the
    kept texts, so the driver compare certifies the exact surviving
    byte-set, not just its size.

    Scale shape: the contaminated id set (tiny — hits only) comes from
    the census plan and meets the training corpus in a LEFT join on
    doc_id; the census is one (lang) hash aggregate. Text never
    shuffles — the fingerprint collapses map-side."""
    contaminated = benchmark_decontamination(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("hit")
    )
    docs = _docs_par(spark, sf_dir)
    is_bench = F.substring("source", 4, 10).cast("int") >= 10
    train = docs.filter(~is_bench).select("doc_id", "lang", "text")
    tagged = train.join(contaminated, "doc_id", "left").withColumn(
        "hit", F.coalesce("hit", F.lit(False))
    )
    fp = F.conv(F.substring(F.md5("text"), 1, 12), 16, 10).cast("bigint")
    n_tok = F.size(tokens_col("text")).cast("bigint")
    return tagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("hit").cast("bigint")).alias("n_dropped"),
        F.sum(F.when(~F.col("hit"), n_tok).otherwise(F.lit(0))).alias(
            "kept_tokens"
        ),
        F.sum(F.when(~F.col("hit"), fp).otherwise(F.lit(0))).alias(
            "kept_fp_sum"
        ),
    )


_DECONTAM_CLEAN_SQL = f"""
WITH contaminated AS (
  SELECT doc_id FROM ({_DECONTAM_SQL})
), train AS (
  SELECT doc_id, lang, text FROM documents
  WHERE CAST(substr(source, 4) AS INT) < 10
), tagged AS (
  SELECT t.lang, t.text, c.doc_id IS NOT NULL AS hit
  FROM train t LEFT JOIN contaminated c USING (doc_id)
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN NOT hit
                THEN len(string_split_regex(trim(text), '\\s+'))
                ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST(SUM(CASE WHEN NOT hit
                THEN ('0x' || substr(md5(text), 1, 12))::BIGINT
                ELSE 0 END) AS BIGINT) AS kept_fp_sum
FROM tagged
GROUP BY lang
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE overlap matrix: for every source pair, how many
    distinct 8-token shingles they share — the mix-design view of
    contamination (doc-level flags live in benchmark_decontamination).
    Two sources with heavy overlap should not both enter the training
    mix at full weight; this is the table that decides it.

    Scale shape: the corpus collapses to DISTINCT (source, shingle)
    rows first (map-side-combining aggregate), so the shingle
    equi-self-join fans out at most #sources rows per shingle — the
    join blowup is bounded by the SOURCE count (~20), never document
    frequency, making the worst key O(#sources²) regardless of corpus
    size."""
    docs = _docs_par(spark, sf_dir)
    sh = docs.select(
        "source",
        word_shingles(tokens_col("text"), n=DECONTAM_SHINGLE_N).alias("sh"),
    ).filter(F.size("sh") > 0)
    inv = sh.select("source", F.explode("sh").alias("s")).distinct()
    a, b = inv.alias("a"), inv.alias("b")
    return (
        a.join(b, "s")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


_OVERLAP_SQL = f"""
WITH t AS (
  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), sh AS (
  SELECT source,
         list_distinct([array_to_string(w[i:i+{DECONTAM_SHINGLE_N - 1}], ' ')
                        for i in range(1, len(w) - {DECONTAM_SHINGLE_N - 2})]) AS sl
  FROM t WHERE len(w) >= {DECONTAM_SHINGLE_N}
), inv AS (
  SELECT DISTINCT source, unnest(sl) AS s FROM sh
)
SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
FROM inv a JOIN inv b USING (s)
WHERE a.source < b.source
GROUP BY 1, 2
"""


def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter (Rae et al. 2021 §A1.1): per-doc
    duplicate-n-gram and top-token fractions, the second quality gate
    (after the C4-style ``quality_filter``) every pretraining corpus
    runs to drop boilerplate-looping and keyboard-mash pages.

    Metrics: fraction of tokens that are the single most frequent
    token, and the duplicate fraction of positional 2-grams / 3-grams
    (1 - distinct/total). The flag uses PURE-INTEGER threshold rules
    (top-token > 20%, dup-2gram > 50%, dup-3gram > 20%, compared as
    ``cnt * k > n`` products) so no float boundary can flap between
    engines.

    Scale shape: entirely map-side — every metric is a higher-order
    array expression over the doc's own token array (no explode, no
    shuffle, whole-stage codegen). The top-token count is
    O(distinct · n) per row, the right trade versus an explode +
    (doc, term) hash-aggregate until docs reach ~10^5 tokens; the
    docstring of ``tfidf_top_terms`` shows the aggregate shape for
    corpus-level term stats."""
    docs = _docs_par(spark, sf_dir)
    w = tokens_col("text")
    n = F.size(w)
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(w),
            lambda x: F.size(F.filter(w, lambda y: y == x)),
        )
    )
    sh2 = word_shingles_all(w, 2)
    sh3 = word_shingles_all(w, 3)
    total2, total3 = F.size(sh2), F.size(sh3)
    dup2 = total2 - F.size(F.array_distinct(sh2))
    dup3 = total3 - F.size(F.array_distinct(sh3))
    frac = lambda c, tot: F.when(  # noqa: E731
        tot > 0, F.round(c.cast("double") / tot, 6)
    ).otherwise(F.lit(0.0))
    repetitive = (
        (top_cnt * 5 > n) | (dup2 * 2 > total2) | (dup3 * 5 > total3)
    ).cast("int")
    return docs.select(
        "doc_id",
        "lang",
        n.alias("n_tokens"),
        top_cnt.alias("top_token_cnt"),
        dup2.alias("dup_2gram_cnt"),
        dup3.alias("dup_3gram_cnt"),
        frac(top_cnt, n).alias("top_token_frac"),
        frac(dup2, total2).alias("dup_2gram_frac"),
        frac(dup3, total3).alias("dup_3gram_frac"),
        repetitive.alias("repetitive"),
    )


_REPETITION_SQL = """
WITH t AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), sh AS (
  SELECT doc_id, lang, w, len(w) AS n,
         [array_to_string(w[i:i+1], ' ')
          FOR i IN range(1, GREATEST(len(w) - 0, 1))] AS sh2,
         [array_to_string(w[i:i+2], ' ')
          FOR i IN range(1, GREATEST(len(w) - 1, 1))] AS sh3
  FROM t
), m AS (
  SELECT doc_id, lang, n,
         list_max(list_transform(list_distinct(w),
                                 x -> len(list_filter(w, y -> y = x)))) AS top_cnt,
         len(sh2) AS total2, len(sh2) - len(list_distinct(sh2)) AS dup2,
         len(sh3) AS total3, len(sh3) - len(list_distinct(sh3)) AS dup3
  FROM sh
)
SELECT doc_id, lang, n AS n_tokens, top_cnt AS top_token_cnt,
       dup2 AS dup_2gram_cnt, dup3 AS dup_3gram_cnt,
       CASE WHEN n > 0 THEN ROUND(CAST(top_cnt AS DOUBLE) / n, 6) ELSE 0.0 END
         AS top_token_frac,
       CASE WHEN total2 > 0 THEN ROUND(CAST(dup2 AS DOUBLE) / total2, 6) ELSE 0.0 END
         AS dup_2gram_frac,
       CASE WHEN total3 > 0 THEN ROUND(CAST(dup3 AS DOUBLE) / total3, 6) ELSE 0.0 END
         AS dup_3gram_frac,
       CAST(top_cnt * 5 > n OR dup2 * 2 > total2 OR dup3 * 5 > total3 AS INT)
         AS repetitive
FROM m
"""


# Mixture cap: no cell may be up-weighted past 5 epochs (the standard
# repetition ceiling in published pretraining-mix recipes).
MIXTURE_MAX_WEIGHT_E6 = 5_000_000


# Temperature for the tau-scaled sampling plan (the multilingual-LM
# convention, e.g. XLM-R's tau=0.7: upsample small sources toward —
# but not all the way to — uniform).
MIX_TAU_TENTHS = 7
# Documents drawn per epoch by the planned sampler.
MIX_EPOCH_DOC_BUDGET = 10_000


def mixture_temperature_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling plan: per-source draw probabilities
    p_s ∝ (tokens_s / total)^tau with tau=0.7 and the integer document
    budget each source gets per epoch — the standard multilingual-mix
    rule (between proportional tau=1 and uniform tau=0) turned into a
    loader-ready plan.

    Cross-engine determinism: ratio^tau goes through the module's ln
    convention — one ln on an exact-integer ratio, quantized to
    micro-nats, scaled by tau IN THE SAME double expression, then one
    exp floored to 1e-9 units. Normalization and the per-source budget
    are pure BIGINT arithmetic over those quantized weights (no double
    sum anywhere), so partial-aggregation order cannot drift.

    Scale shape: one source-grain token census (map-side combine), a
    one-row broadcast total, and arithmetic over the tiny source
    table. Output is one row per source at any corpus scale."""
    docs = _docs_par(spark, sf_dir)
    cells = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_col("text"))).cast("bigint").alias("n_tokens"),
    )
    total = cells.agg(F.sum("n_tokens").alias("total_tokens"))
    t_e6 = F.round(
        F.log(F.col("n_tokens").cast("double") / F.col("total_tokens"))
        * (MIX_TAU_TENTHS / 10.0)
        * 1e6
    ).cast("bigint")
    w_e9 = F.floor(
        F.lit(1e9) * F.exp(F.col("t_e6").cast("double") / 1e6)
    ).cast("bigint")
    weighted = (
        cells.join(F.broadcast(total))
        .withColumn("t_e6", t_e6)
        .withColumn("w_e9", w_e9)
    )
    wtot = weighted.agg(F.sum("w_e9").alias("w_total"))
    return (
        weighted.join(F.broadcast(wtot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "w_e9",
            F.expr("(w_e9 * CAST(1000000 AS BIGINT)) DIV w_total").alias(
                "share_e6"
            ),
            F.expr(
                f"({MIX_EPOCH_DOC_BUDGET} * w_e9) DIV w_total"
            ).alias("epoch_docs"),
        )
    )


_MIX_TEMP_SQL = f"""
WITH cells AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
), total AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM cells),
weighted AS (
  SELECT source, n_docs, n_tokens,
         CAST(FLOOR(1e9 * exp(
           CAST(ROUND(ln(CAST(n_tokens AS DOUBLE) / total_tokens)
                      * {MIX_TAU_TENTHS / 10.0} * 1e6) AS BIGINT)
           / 1e6)) AS BIGINT) AS w_e9
  FROM cells CROSS JOIN total
), wtot AS (SELECT CAST(SUM(w_e9) AS BIGINT) AS w_total FROM weighted)
SELECT source, n_docs, n_tokens, w_e9,
       (w_e9 * CAST(1000000 AS BIGINT)) // w_total AS share_e6,
       ({MIX_EPOCH_DOC_BUDGET} * w_e9) // w_total AS epoch_docs
FROM weighted CROSS JOIN wtot
"""


def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix planning: per (lang, source) token census plus the
    sampling weight that would equalize every cell's token share in
    the final mixture, capped at 5 epochs — the step that turns corpus
    profiling into a sampling plan for the data loader.

    Integer-quantized on both engines: ``share_e6`` is the cell's
    token share in micro-units (BIGINT DIV), ``weight_e6`` the
    up/down-sampling multiplier ``target/share`` in micro-units.

    Scale shape: one (lang, source) hash aggregate over a map-side
    token count; the corpus totals ride in as a one-row broadcast
    aggregate (never a driver action). Output is one row per cell —
    tiny at any corpus scale."""
    docs = _docs_par(spark, sf_dir)
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_col("text"))).cast("bigint").alias("n_tokens"),
    )
    totals = cells.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    share_e6 = F.expr("(n_tokens * CAST(1000000 AS BIGINT)) DIV total_tokens")
    raw_w = F.expr(
        "((CAST(1000000 AS BIGINT) DIV n_cells) * CAST(1000000 AS BIGINT))"
        " DIV ((n_tokens * CAST(1000000 AS BIGINT)) DIV total_tokens)"
    )
    return (
        cells.join(F.broadcast(totals))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            share_e6.alias("share_e6"),
            F.least(raw_w, F.lit(MIXTURE_MAX_WEIGHT_E6)).alias("weight_e6"),
            (raw_w > MIXTURE_MAX_WEIGHT_E6).cast("int").alias("capped"),
        )
    )


_MIXTURE_SQL = f"""
WITH cells AS (
  SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1, 2
), totals AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         COUNT(*) AS n_cells
  FROM cells
)
SELECT lang, source, n_docs, n_tokens,
       (n_tokens * 1000000) // total_tokens AS share_e6,
       LEAST(((1000000 // n_cells) * 1000000)
               // ((n_tokens * 1000000) // total_tokens),
             {MIXTURE_MAX_WEIGHT_E6}) AS weight_e6,
       CAST(((1000000 // n_cells) * 1000000)
              // ((n_tokens * 1000000) // total_tokens)
            > {MIXTURE_MAX_WEIGHT_E6} AS INT) AS capped
FROM cells CROSS JOIN totals
"""


# Shard packing: target bytes (chars) per output shard, and the range
# width of the prefix-sum buckets (both mirrored in the oracle).
SHARD_TARGET_CHARS = 8192
SHARD_PREFIX_BUCKET = 64


def doc_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced output sharding: assign documents (in deterministic
    doc_id order) to consecutive shards of ~SHARD_TARGET_CHARS each —
    the running-total bin-packing that decides output file boundaries
    when writing a corpus back out. Emits the per-shard census
    (doc count, chars, id range).

    Scale shape — DISTRIBUTED PREFIX SUM, not a global window: a
    single `SUM() OVER (ORDER BY doc_id)` puts the whole corpus in ONE
    window task. Instead: (1) an intra-bucket running sum windowed by
    doc_id-range bucket (parallel across buckets), (2) bucket
    subtotals prefix-summed in a tiny per-bucket window (rows =
    #buckets), (3) broadcast the offsets back. Three narrow shuffles,
    no single-task stage. The DuckDB oracle computes the NAIVE global
    cumsum, so the check proves the two-phase decomposition equals the
    sequential semantics."""
    docs = _docs_par(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("bigint").alias("c")
    )
    b = (F.col("doc_id") / SHARD_PREFIX_BUCKET).cast("bigint")
    d = docs.withColumn("b", b)
    win_intra = (
        Window.partitionBy("b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("run", F.sum("c").over(win_intra))
    totals = d.groupBy("b").agg(F.sum("c").alias("bt"))
    win_b = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = totals.withColumn(
        "off", F.sum("bt").over(win_b) - F.col("bt")
    ).select("b", "off")
    cum = F.col("off") + F.col("run")
    shard = F.expr(
        f"(off + run - CAST(1 AS BIGINT)) DIV {SHARD_TARGET_CHARS}"
    )
    assigned = d.join(F.broadcast(offsets), "b").select(
        "doc_id", "c", cum.alias("cum_chars"), shard.alias("shard_id")
    )
    return assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("c").alias("shard_chars"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
    )


_SHARD_SQL = f"""
WITH cum AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS c,
         SUM(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_chars
  FROM documents
)
SELECT CAST((cum_chars - 1) // {SHARD_TARGET_CHARS} AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(c) AS BIGINT) AS shard_chars,
       MIN(doc_id) AS first_doc_id,
       MAX(doc_id) AS last_doc_id
FROM cum GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Vocabulary growth (Heaps' law) — tokenizer/vocab sizing signal
# ---------------------------------------------------------------------------

# Docs per growth checkpoint. 50 gives 10 checkpoints on the 500-doc
# fixtures and 100 at sf0.1; at corpus scale the bucket would be a
# crawl segment, not a doc_id range.
VOCAB_BUCKET_DOCS = 50


def vocab_growth_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: for each checkpoint of
    ``VOCAB_BUCKET_DOCS`` documents (in doc_id order), how many token
    TYPES appear for the first time, plus the cumulative type and
    token counts — the curve that sizes a tokenizer vocabulary and
    predicts how much new text still buys new vocabulary.

    Scale shape: "first time" is not a sequential scan — each type's
    first occurrence is ``min(doc_id)`` per token, one hash aggregate
    with map-side combine over the exploded tokens (the only wide
    stage that touches token-grain data). Everything after collapses
    to one row per checkpoint: the cumulative window runs over a
    bucket-count-sized table (thousands of rows at petabyte scale),
    so the unpartitioned window is safe."""
    docs = _docs_par(spark, sf_dir)
    tok = tokens_col("text")
    bucket = F.expr(f"doc_id DIV {VOCAB_BUCKET_DOCS}")
    per_bucket = docs.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tok)).cast("bigint").alias("n_tokens"),
    )
    first_seen = (
        docs.select(bucket.alias("b"), F.explode(tok).alias("w"))
        .groupBy("w")
        .agg(F.min("b").alias("first_bucket"))
        .groupBy(F.col("first_bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    win = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    joined = per_bucket.join(first_seen, "bucket", "left").select(
        "bucket",
        "n_docs",
        "n_tokens",
        F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
    )
    return joined.select(
        "bucket",
        "n_docs",
        "n_tokens",
        "new_types",
        F.sum("new_types").over(win).cast("bigint").alias("cum_types"),
        F.sum("n_tokens").over(win).cast("bigint").alias("cum_tokens"),
    )


_VOCAB_GROWTH_SQL = f"""
WITH toks AS (
  SELECT doc_id // {VOCAB_BUCKET_DOCS} AS b,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
  FROM documents
), per_bucket AS (
  SELECT doc_id // {VOCAB_BUCKET_DOCS} AS bucket, COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1
), first_seen AS (
  SELECT first_bucket AS bucket, COUNT(*) AS new_types
  FROM (SELECT w, MIN(b) AS first_bucket FROM toks GROUP BY w)
  GROUP BY 1
), joined AS (
  SELECT p.bucket, p.n_docs, p.n_tokens,
         CAST(COALESCE(f.new_types, 0) AS BIGINT) AS new_types
  FROM per_bucket p LEFT JOIN first_seen f USING (bucket)
)
SELECT bucket, n_docs, n_tokens, new_types,
       CAST(SUM(new_types) OVER (ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_types,
       CAST(SUM(n_tokens) OVER (ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens
FROM joined
"""


# ---------------------------------------------------------------------------
# Unigram entropy — repetitive/gibberish detector
# ---------------------------------------------------------------------------

# Docs whose unigram entropy falls below this many micro-nats are
# counted as "low entropy" (repetitive boilerplate / keyword stuffing).
# ~3 nats ~ a 20-word effective vocabulary.
LOW_ENTROPY_E6 = 3_000_000


def token_entropy_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-entropy census: each document's token
    distribution entropy H = sum c_i/n * ln(n/c_i) (nats), averaged
    per source, plus the count of low-entropy (repetitive) documents.
    Low unigram entropy is the classic cheap gibberish/keyword-stuffing
    signal that complements ``quality_repetition``'s n-gram ratios.

    Cross-engine determinism: the one ``ln`` per (doc, type) is taken
    on an exact-integer ratio ``n/c_i`` and quantized to micro-nats;
    per-doc entropy is the exact
    BIGINT ``sum(c_i * term_e6) DIV n`` and per-source results are
    exact BIGINT sums, so no aggregation-order drift is possible.

    Scale shape: two token-grain exchanges — the (doc_id, token) type
    count (hash aggregate with map-side combine) and the doc_id window
    that co-locates a document's types for its total n — then one
    row-per-doc collapse and a per-source rollup. No joins, nothing
    broadcast."""
    docs = _docs_par(spark, sf_dir)
    counts = (
        docs.select(
            "doc_id", "source", F.explode(tokens_col("text")).alias("w")
        )
        .groupBy("doc_id", "source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    term_e6 = F.round(
        F.log(
            F.sum("c").over(Window.partitionBy("doc_id")).cast("double")
            / F.col("c")
        )
        * 1e6
    ).cast("bigint")
    per_doc = (
        counts.withColumn("term_e6", term_e6)
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.col("term_e6")).alias("wsum"),
        )
        .select(
            "source",
            F.expr("wsum DIV n").alias("entropy_e6"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("entropy_e6") < LOW_ENTROPY_E6).cast("bigint")).alias(
            "n_low_entropy"
        ),
        F.sum("entropy_e6").alias("sum_entropy_e6"),
        F.round(
            F.sum("entropy_e6").cast("double") / 1e6 / F.count(F.lit(1)), 6
        ).alias("avg_entropy_nats"),
    )


_ENTROPY_SQL = f"""
WITH counts AS (
  SELECT doc_id, source, w, COUNT(*) AS c
  FROM (
    SELECT doc_id, source,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
    FROM documents
  )
  GROUP BY 1, 2, 3
), terms AS (
  SELECT doc_id, source, c,
         CAST(ROUND(ln(CAST(SUM(c) OVER (PARTITION BY doc_id) AS DOUBLE) / c)
                    * 1e6) AS BIGINT) AS term_e6
  FROM counts
), per_doc AS (
  SELECT source, SUM(c * term_e6) // SUM(c) AS entropy_e6
  FROM terms GROUP BY doc_id, source
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN entropy_e6 < {LOW_ENTROPY_E6} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low_entropy,
       CAST(SUM(entropy_e6) AS BIGINT) AS sum_entropy_e6,
       ROUND(CAST(SUM(entropy_e6) AS DOUBLE) / 1e6 / COUNT(*), 6)
         AS avg_entropy_nats
FROM per_doc GROUP BY source
"""


# Stopword-discovery shape: top-K tokens by document frequency per
# language — the data-driven way the jusText stoplists would be built
# for a language that ships without one.
STOPWORD_DISCOVERY_TOPK = 15


def stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven stopword discovery: rank each language's tokens by
    document frequency and keep the top K, flagging membership in the
    frozen synthetic stoplist (the list jusText classification actually
    uses) — the audit that says whether the shipped stoplist matches
    the corpus the classifier runs on.

    Scale shape: array_distinct BEFORE explode bounds the shuffle at
    one row per (doc, distinct token); the (lang, token) hash aggregate
    map-side combines; the ranking window runs over the
    vocabulary-sized aggregate, never over token occurrences."""
    docs = _docs_par(spark, sf_dir)
    df_ = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.array_distinct(tokens_col("text"))).alias("token"),
        )
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("df"), F.asc("token"))
    return (
        df_.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= STOPWORD_DISCOVERY_TOPK)
        .select(
            "lang",
            F.col("rank").cast("int").alias("rank"),
            "token",
            F.col("df").cast("bigint").alias("df"),
            F.col("token")
            .isin(*STOPWORDS_SORTED)
            .cast("boolean")
            .alias("in_stoplist"),
        )
    )


_STOPWORD_DISCOVERY_SQL = f"""
WITH e AS (
  SELECT doc_id, lang,
         unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS token
  FROM documents
), dfx AS (
  SELECT lang, token, COUNT(*) AS df FROM e GROUP BY 1, 2
), ranked AS (
  SELECT lang, token, df,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY df DESC, token) AS rank
  FROM dfx
)
SELECT lang, CAST(rank AS INTEGER) AS rank, token, CAST(df AS BIGINT) AS df,
       token IN ({_STOP_SQL}) AS in_stoplist
FROM ranked WHERE rank <= {STOPWORD_DISCOVERY_TOPK}
"""


_REGISTRY = {
    "tfidf_top_terms": (tfidf_top_terms, _TFIDF_SQL),
    "textrank_keywords": (textrank_keywords, _textrank_sql()),
    "heavy_hitters_cms": (heavy_hitters_cms, _CMS_SQL),
    "readability_census": (readability_census, _READABILITY_SQL),
    "benchmark_decontamination": (benchmark_decontamination, _DECONTAM_SQL),
    "decontamination_clean": (decontamination_clean, _DECONTAM_CLEAN_SQL),
    "source_overlap_matrix": (source_overlap_matrix, _OVERLAP_SQL),
    "quality_repetition": (quality_repetition, _REPETITION_SQL),
    "corpus_mixture_weights": (corpus_mixture_weights, _MIXTURE_SQL),
    "doc_shard_assignment": (doc_shard_assignment, _SHARD_SQL),
    "vocab_growth_census": (vocab_growth_census, _VOCAB_GROWTH_SQL),
    "token_entropy_census": (token_entropy_census, _ENTROPY_SQL),
    "mixture_temperature_plan": (mixture_temperature_plan, _MIX_TEMP_SQL),
    "stopword_discovery": (stopword_discovery, _STOPWORD_DISCOVERY_SQL),
}
