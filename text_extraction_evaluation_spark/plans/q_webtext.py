"""Webtext corpus-hygiene stages every large-scale training-data build
runs between crawl and training mix: PII redaction, URL blocklist
filtering (suffix/subdomain match), and incremental crawl diffing.

Same contract as the other plans.q_* modules: each query is a
DataFrame plan over the driver fixtures, each oracle is an
independent DuckDB twin (intent-built from the synth rules where the
Spark side computes over synthesized pages), every computed column
aliased identically on both sides.

Cross-engine regex note: every pattern here is written in the common
subset of Java regex (Spark) and RE2 (DuckDB) — no backreferences, no
lookaround — so the two engines' redaction output is byte-identical
and can be pinned with a fingerprint sum, not just counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import md5_int, tokens_col, word_shingles_all
from ..sources import synth as _synth
from .common import _t
from .q_extraction import _fp48


# ---------------------------------------------------------------------------
# PII redaction (Dolma/CCNet-style scrub pass)
# ---------------------------------------------------------------------------

# Common Java-regex/RE2 subset; replacement order is part of the
# contract (email, then IP, then phone) and mirrored in the SQL twin.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"


def _pii_augmented(doc_id, text):
    """Deterministic PII planting, doc_id-keyed (the fixture corpus is
    PII-free word salad, so the scrub pass needs a seeded payload; the
    SQL twin rebuilds the identical strings from the same arithmetic).
    3 of every 5 docs carry exactly one PII item; 2 stay clean."""
    m = doc_id % 5
    return (
        F.when(
            m == 0,
            F.concat(
                text,
                F.lit(" contact user"),
                doc_id.cast("string"),
                F.lit("@mail.example for details"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                text,
                F.lit(" call +1-555-"),
                F.lpad((doc_id % 10000).cast("string"), 4, "0"),
                F.lit(" now"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                text,
                F.lit(" server at 10."),
                (doc_id % 256).cast("string"),
                F.lit("."),
                (F.floor(doc_id / 7) % 256).cast("string"),
                F.lit("."),
                (doc_id % 200).cast("string"),
                F.lit(" logged"),
            ),
        )
        .otherwise(text)
    )


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub census — regex redaction of emails / IPv4s / phone
    numbers with per-source counts, a chars-removed tally, and a
    fingerprint sum over the REDACTED text (so the driver check pins
    the exact byte-level redaction output of both engines, not just
    match counts).

    Scale shape: entirely map-side JVM work (whole-stage-codegen'd
    regexp_extract_all / regexp_replace; zero Python) followed by one
    map-side-combining hash aggregate on `source` — the cheapest
    possible shape for a full-corpus scrub at 100 TB. No window, no
    join, no shuffle of document text: only the 20-source census rows
    move."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    did = F.col("doc_id")
    aug = _pii_augmented(did, F.col("text"))
    red = F.regexp_replace(aug, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_IP, "<IP>")
    red = F.regexp_replace(red, PII_PHONE, "<PHONE>")

    def n_matches(pat: str):
        return F.size(F.regexp_extract_all(aug, F.lit(pat), F.lit(0))).cast("bigint")

    return (
        docs.select(
            "source",
            n_matches(PII_EMAIL).alias("ne"),
            n_matches(PII_IP).alias("ni"),
            n_matches(PII_PHONE).alias("np"),
            (F.length(aug) - F.length(red)).cast("bigint").alias("delta"),
            _fp48(red).alias("fp"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ne").alias("n_emails"),
            F.sum("ni").alias("n_ips"),
            F.sum("np").alias("n_phones"),
            F.sum("delta").alias("chars_redacted"),
            F.sum("fp").alias("redacted_fp_sum"),
        )
    )


# RE2 twin of the Java patterns above (identical strings — both
# dialects parse this subset the same way).
_PII_SQL = f"""
WITH aug AS (
  SELECT source,
         CASE doc_id % 5
           WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@mail.example for details'
           WHEN 1 THEN text || ' call +1-555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'
           WHEN 2 THEN text || ' server at 10.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)
                       || '.' || CAST(doc_id % 200 AS VARCHAR) || ' logged'
           ELSE text
         END AS t
  FROM documents
), red AS (
  SELECT source, t,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_IP}', '<IP>', 'g'),
           '{PII_PHONE}', '<PHONE>', 'g') AS r,
         len(regexp_extract_all(t, '{PII_EMAIL}')) AS ne,
         len(regexp_extract_all(t, '{PII_IP}')) AS ni,
         len(regexp_extract_all(t, '{PII_PHONE}')) AS np
  FROM aug
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(ne) AS BIGINT) AS n_emails,
       CAST(SUM(ni) AS BIGINT) AS n_ips,
       CAST(SUM(np) AS BIGINT) AS n_phones,
       CAST(SUM(length(t) - length(r)) AS BIGINT) AS chars_redacted,
       CAST(SUM(('0x' || substr(md5(r), 1, 12))::BIGINT) AS BIGINT)
         AS redacted_fp_sum
FROM red
GROUP BY source
"""


# ---------------------------------------------------------------------------
# URL blocklist filtering (suffix / subdomain match)
# ---------------------------------------------------------------------------

BLOCKLIST = ["skew.example", "host7.example", "ads.invalid"]


def url_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist gate — block a host when it equals a listed
    domain OR sits under one (subdomain suffix match), the rule every
    crawl pipeline applies before extraction. A deterministic
    doc_id-keyed subdomain prefix (cdn./www.) widens the fixture's
    flat host space so the suffix path is actually exercised
    (cdn.skew.example must be caught by the 'skew.example' entry).

    Scale shape: the naive formulation is a LIKE '%.domain' theta-join
    (BroadcastNestedLoop — every host row tested against every
    blocklist row). Instead each host explodes into its <= 3 label
    suffixes and LEFT SEMI equi-joins the broadcast blocklist: linear
    in hosts, and the explode runs on the DISTINCT host dimension
    (hundreds of rows after the url census), never on the url fact
    table. The SQL twin deliberately uses the LIKE intent form, so the
    driver compare proves the suffix-explode rewrite is equivalent."""
    from ..sources.readers import pages_df

    pages = pages_df(
        spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism
    )
    base_host = F.regexp_extract("url", r"^http://([^/]+)/", 1)
    did = F.regexp_extract("url", r"/([0-9]+)$", 1).cast("bigint")
    sub = (
        F.when(did % 4 == 0, F.lit("cdn."))
        .when(did % 4 == 1, F.lit("www."))
        .otherwise(F.lit(""))
    )
    urls = pages.select(
        F.concat(sub, base_host).alias("host"), "url"
    ).distinct()
    hosts = urls.groupBy("host").agg(F.count(F.lit(1)).alias("n_urls"))

    labels = F.split(F.col("host"), r"\.")
    n = F.size(labels)
    suffixes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )
    bl = spark.createDataFrame([(d,) for d in BLOCKLIST], ["suffix"])
    blocked_hosts = (
        hosts.select("host", F.explode(suffixes).alias("suffix"))
        .join(F.broadcast(bl), "suffix", "left_semi")
        .select("host")
        .distinct()
        .withColumn("blk", F.lit(True))
    )
    return (
        hosts.join(F.broadcast(blocked_hosts), "host", "left")
        .select(
            "host",
            "n_urls",
            F.coalesce("blk", F.lit(False)).alias("blocked"),
        )
    )


def _blocklist_sql() -> str:
    from ..sources.synth import HOT_HOST_SOURCE, N_HOSTS

    exact = ", ".join(f"'{d}'" for d in BLOCKLIST)
    likes = " OR ".join(f"host LIKE '%.{d}'" for d in BLOCKLIST)
    return f"""
WITH u AS (
  SELECT DISTINCT
         CASE doc_id % 4 WHEN 0 THEN 'cdn.' WHEN 1 THEN 'www.' ELSE '' END ||
         CASE WHEN source = '{HOT_HOST_SOURCE}' THEN 'skew.example'
              ELSE 'host' || CAST(doc_id % {N_HOSTS} AS VARCHAR) || '.example'
         END AS host,
         doc_id
  FROM documents
)
SELECT host, COUNT(*) AS n_urls,
       (host IN ({exact}) OR {likes}) AS blocked
FROM u
GROUP BY host
"""


# ---------------------------------------------------------------------------
# Incremental crawl diff (raw-hash vs content-hash change detection)
# ---------------------------------------------------------------------------


def crawl_content_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl diff — per host, how many urls were
    recrawled, and of those how many changed at the RAW byte level
    (md5 of the html) vs at the CONTENT level (md5 of the main text).
    The gap between the two is the boilerplate-churn rate: pages whose
    template rotated but whose content is identical, which an
    incremental pipeline should NOT re-extract or re-score. On the
    fixtures every recrawl rotates the template and keeps the content,
    so the oracle pins n_raw_changed == n_recrawled and
    n_content_changed == 0 per host — any Spark-side drift in crawl
    ordering (min_by/max_by on warc_ts) or hashing breaks the match.

    Scale shape: one shuffle on (host, url) with map-side-combined
    min_by/max_by aggregates — no window over the url's crawl history,
    no self-join of old vs new snapshots — then a second tiny
    aggregate on host. At 100 TB the first agg carries only two 32-hex
    hashes per url, never the html bytes."""
    from ..sources.readers import pages_df

    pages = pages_df(
        spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism
    )
    host = F.regexp_extract("url", r"^http://([^/]+)/", 1)
    h = pages.select(
        host.alias("host"),
        "url",
        "warc_ts",
        F.md5("html").alias("raw_h"),
        F.md5("text").alias("content_h"),
    )
    per_url = h.groupBy("host", "url").agg(
        F.count(F.lit(1)).alias("n_crawls"),
        F.min_by("raw_h", "warc_ts").alias("raw_first"),
        F.max_by("raw_h", "warc_ts").alias("raw_last"),
        F.min_by("content_h", "warc_ts").alias("content_first"),
        F.max_by("content_h", "warc_ts").alias("content_last"),
    )
    return per_url.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum((F.col("n_crawls") > 1).cast("bigint")).alias("n_recrawled"),
        F.sum((F.col("raw_first") != F.col("raw_last")).cast("bigint")).alias(
            "n_raw_changed"
        ),
        F.sum(
            (F.col("content_first") != F.col("content_last")).cast("bigint")
        ).alias("n_content_changed"),
    )


def _crawl_diff_sql() -> str:
    from ..sources.synth import (
        HOT_HOST_SOURCE,
        N_HOSTS,
        SECOND_CRAWL_MOD,
        SECOND_CRAWL_REM,
    )

    # Intent-built from the synth rules: doc_id % 20 == 7 urls carry a
    # second crawl with a rotated template (raw bytes change) and the
    # same gold text (content does not).
    return f"""
SELECT CASE WHEN source = '{HOT_HOST_SOURCE}' THEN 'skew.example'
            ELSE 'host' || CAST(doc_id % {N_HOSTS} AS VARCHAR) || '.example'
       END AS host,
       COUNT(*) AS n_urls,
       CAST(SUM(CASE WHEN doc_id % {SECOND_CRAWL_MOD} = {SECOND_CRAWL_REM}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_recrawled,
       CAST(SUM(CASE WHEN doc_id % {SECOND_CRAWL_MOD} = {SECOND_CRAWL_REM}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_raw_changed,
       CAST(0 AS BIGINT) AS n_content_changed
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Boilerplate line-df census (RefinedWeb/CCNet line-dedup, stage 1)
# ---------------------------------------------------------------------------

LINE_DF_THRESHOLD = 50  # distinct urls; fixture template lines sit at
# >= 56 (sidebar) and 500 (nav/footer), the densest content-derived
# line at <= 38 — prod: a per-mille-of-corpus rule instead


def boilerplate_line_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level duplication census — the discovery stage of
    RefinedWeb/CCNet line dedup: segment every page into paragraph
    lines (the real jusText segmenter, not a whitespace split), count
    distinct urls per exact line, and keep lines above the
    document-frequency threshold. `n_good_leaks` counts how often a
    boilerplate line survived extraction classified GOOD — the metric
    line-dedup exists to drive; the oracle pins it at 0 for every
    template line, so any classifier regression that lets nav/footer
    text through shows up as a driver mismatch.

    Scale shape: one hash aggregate on the line text with map-side
    partial combine — a line repeated on every page of a partition
    ships ONCE per partition, so the shuffle carries ~distinct lines,
    not corpus lines. The countDistinct(url) plans as Spark's two-phase
    expand (partial dedup of (line, url) map-side) — the nav line's
    half-billion urls at 100 TB never funnel raw into one task. No
    driver-side state; the df threshold prunes before any output."""
    from ..operators.extract import extract_spans, latest_crawl
    from ..sources.readers import pages_df

    pages = latest_crawl(
        pages_df(spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism)
    )
    spans = extract_spans(pages).select("url", "text", "class_final")
    return (
        spans.groupBy(F.col("text").alias("line"))
        .agg(
            F.countDistinct("url").alias("n_urls"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.sum((F.col("class_final") == "good").cast("bigint")).alias(
                "n_good_leaks"
            ),
        )
        .filter(F.col("n_urls") >= LINE_DF_THRESHOLD)
    )


# Intent-built twin: every surviving line is synth template boilerplate
# (sources/synth.py), and every count reduces to doc_id arithmetic over
# `documents` via the effective-variant census (doc_id % 16, +2 for the
# 5% second-crawl docs that latest-crawl keeps). Which lines cross the
# df>=50 threshold depends on corpus size: at 500 docs only nav/footer/
# sidebar survive; at 5000 docs every per-variant template line does.
# The strings are the segmenter's exact paragraph texts (link texts
# joined by single spaces), cross-checked against the pinned
# pure-Python oracle when this query landed. The ONLY data-dependent
# values are the GOOD-leak counts of 'section intro' (jusText heading
# rescue fires per-doc) and the neargood paragraph (neargood->good
# smoothing fires per-doc); those two are frozen oracle constants
# keyed by corpus size (scripts/freeze_fingerprints.py) — an unknown
# corpus size joins to NULL and fails loudly rather than silently.
_NG_LINE = _synth._NEARGOOD_BP[3:-4]  # strip <p> </p>: the segmenter text

_LINE_CENSUS_SQL = f"""
WITH v AS (
  SELECT (doc_id % 16 + CASE WHEN doc_id % 20 = 7 THEN 2 ELSE 0 END) % 16
           AS v_eff
  FROM documents
), c AS (
  SELECT COUNT(*) AS n_docs,
         COUNT(*) FILTER (WHERE v_eff = 1)  AS v1,
         COUNT(*) FILTER (WHERE v_eff = 4)  AS v4,
         COUNT(*) FILTER (WHERE v_eff = 5)  AS v5,
         COUNT(*) FILTER (WHERE v_eff = 7)  AS v7,
         COUNT(*) FILTER (WHERE v_eff = 8)  AS v8,
         COUNT(*) FILTER (WHERE v_eff = 12) AS v12,
         COUNT(*) FILTER (WHERE v_eff = 14) AS v14,
         COUNT(*) FILTER (WHERE v_eff IN (8, 15)) AS sb
  FROM v
), leaks AS (
  SELECT * FROM (VALUES
    (5000, CAST(226 AS BIGINT), CAST(215 AS BIGINT))
  ) t(n_docs, intro_leaks, ng_leaks)
)
SELECT line, n_urls, n_occurrences, n_good_leaks FROM (
  SELECT 'portal newsfeed contact login subscribe' AS line,
         n_docs AS n_urls, n_docs AS n_occurrences,
         CAST(0 AS BIGINT) AS n_good_leaks FROM c
  UNION ALL
  SELECT '© 2024 Synth Portal. All rights reserved. terms privacy',
         n_docs, n_docs, CAST(0 AS BIGINT) FROM c
  UNION ALL
  SELECT 'promo banner', sb, 2 * sb, CAST(0 AS BIGINT) FROM c
  UNION ALL
  SELECT 'trending widget', sb, 2 * sb, CAST(0 AS BIGINT) FROM c
  UNION ALL
  SELECT 'cookie notice', sb, 2 * sb, CAST(0 AS BIGINT) FROM c
  UNION ALL
  SELECT 'archive index', v1, 4 * v1, CAST(0 AS BIGINT) FROM c
  UNION ALL
  SELECT 'orphan heading', v5, v5, CAST(0 AS BIGINT) FROM c
  UNION ALL
  SELECT 'gallery teaser snippet', v5, 12 * v5, CAST(0 AS BIGINT) FROM c
  UNION ALL
  SELECT 'alpha pick', v7, v7, CAST(0 AS BIGINT) FROM c
  UNION ALL
  SELECT 'beta pick', v7, v7, CAST(0 AS BIGINT) FROM c
  UNION ALL
  SELECT 'café menü promo', v12, v12, CAST(0 AS BIGINT) FROM c
  UNION ALL
  SELECT 'signup widget', v14, v14, CAST(0 AS BIGINT) FROM c
  UNION ALL
  SELECT 'submit entry', v14, v14, CAST(0 AS BIGINT) FROM c
  UNION ALL
  SELECT 'section intro', v4, v4, l.intro_leaks
  FROM c LEFT JOIN leaks l ON l.n_docs = c.n_docs
  UNION ALL
  SELECT '{_NG_LINE}', v8, 2 * v8, l.ng_leaks
  FROM c LEFT JOIN leaks l ON l.n_docs = c.n_docs
)
WHERE n_urls >= {LINE_DF_THRESHOLD}
"""


def line_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/CCNet line dedup STAGE 2 — the actual cleaning:
    drop every line the census flags (document frequency >=
    LINE_DF_THRESHOLD urls) from every document and pin the surviving
    corpus byte-for-byte with a 48-bit fingerprint sum over
    url|idx|text. One driver row: total/kept/dropped line counts,
    urls touched, and the kept-corpus fingerprint.

    Scale shape: the hot-line dictionary is the census output — tiny
    by construction (only lines repeated across >= 50 urls survive the
    threshold), so membership is a BROADCAST left join, never a
    shuffle of the corpus on line text. The census aggregate itself is
    the map-side-combined shape documented on
    ``boilerplate_line_census``. Two scans of the span lineage total
    (census + clean), the inherent stage-1/stage-2 structure — on a
    real run the census is persisted between them (sources.catalog).

    Oracle: frozen golden fingerprints from the pinned single-process
    oracle (scripts/freeze_fingerprints.py), same honest scope as the
    other extraction-family gates — the gate pins distribution-layer
    parity of the census + anti-join plumbing."""
    from ..operators.extract import extract_spans, latest_crawl
    from ..sources.readers import pages_df

    pages = latest_crawl(
        pages_df(spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism)
    )
    spans = extract_spans(pages).select("url", "idx", "text")
    hot = (
        spans.groupBy("text")
        .agg(F.countDistinct("url").alias("n_urls"))
        .filter(F.col("n_urls") >= LINE_DF_THRESHOLD)
        .select("text", F.lit(True).alias("is_hot"))
    )
    flagged = spans.join(F.broadcast(hot), "text", "left").select(
        "url",
        "idx",
        "text",
        F.coalesce(F.col("is_hot"), F.lit(False)).alias("is_hot"),
    )
    kept_fp = F.when(
        ~F.col("is_hot"),
        _fp48(F.concat_ws("|", "url", F.col("idx").cast("string"), "text")),
    ).otherwise(F.lit(0))
    return flagged.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum((~F.col("is_hot")).cast("bigint")).alias("n_kept"),
        F.sum(F.col("is_hot").cast("bigint")).alias("n_dropped"),
        F.countDistinct(F.when(F.col("is_hot"), F.col("url"))).alias(
            "n_urls_touched"
        ),
        F.sum(kept_fp).alias("kept_fp_sum"),
    )


# Frozen golden twin (scripts/freeze_fingerprints.py), keyed on fixture
# size like the other extraction-family gates.
_LINE_CLEAN_SQL = """
SELECT n_lines, n_kept, n_dropped, n_urls_touched, kept_fp_sum
FROM (VALUES
  (1000,  CAST(3413 AS BIGINT), CAST(2077 AS BIGINT), CAST(1336 AS BIGINT),
          CAST(500 AS BIGINT), CAST(289211926507667724 AS BIGINT)),
  (10000, CAST(3244 AS BIGINT), CAST(1908 AS BIGINT), CAST(1336 AS BIGINT),
          CAST(500 AS BIGINT), CAST(260608932958251538 AS BIGINT)),
  (100000, CAST(33096 AS BIGINT), CAST(10976 AS BIGINT), CAST(22120 AS BIGINT),
          CAST(5000 AS BIGINT), CAST(1545418954771819716 AS BIGINT))
) t(n_events, n_lines, n_kept, n_dropped, n_urls_touched, kept_fp_sum)
WHERE n_events = (SELECT COUNT(*) FROM events)
"""


# ---------------------------------------------------------------------------
# Cross-crawl incremental dedup via a Bloom filter (crawl-frontier /
# "have we already got this content" fast path)
# ---------------------------------------------------------------------------

# Frozen sizing for the fixture split (~250 old fingerprints): 4096
# bits / 3 hashes => expected fpp ~0.5%, so the census sees a small
# (possibly zero) false-positive count that both engines must agree on
# bit-for-bit. Production sizes these from bloom_params(n_old, fpp).
BLOOM_NOVELTY_M = 4096
BLOOM_NOVELTY_K = 3


def crawl_bloom_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl novelty census: the previous crawl's content
    fingerprints fold into a Bloom filter; the new crawl probes it to
    skip already-held content WITHOUT a join against crawl history.
    Emits per-lang counts of bloom-positive (maybe-dup), exact-dup
    (ground truth via semi-join, for accounting), false-positive
    (bloom-positive but novel — the cost of the sketch), and
    definitely-new docs. Bloom has no false negatives by construction,
    so n_true_dup <= n_maybe_dup always; the n_false_pos column
    hash-checks the bitmap arithmetic bit-for-bit across engines.

    Scale shape: the build is one map-side-combined ``bit_or``
    aggregate collapsing to <= m/64 word rows, folded into a ONE-ROW
    broadcast map — never a shuffle proportional to history size. The
    probe is a JVM-side ``forall`` over k array lookups per row: zero
    exchange on the 100-TB new-crawl side (the exact semi-join here is
    the *audit* column; the production fast path drops it and keeps
    only the probe). Old crawl = the corpus; new crawl = the
    dedup_exact re-crawl model (doc_id % 10 == 0 refetched
    byte-identical => true dups the filter MUST flag) plus changed
    pages (doc_id % 10 == 5 with edited text => novel content the
    filter should pass, modulo the sketch's fpp).

    Uses the md5 position family (engine-portable) rather than the
    xxhash64 production family in functions/sketch.py, so the DuckDB
    twin replays the identical bitmap."""
    from ..functions.sketch import (
        _bit_mask,
        bloom_positions_md5,
        bloom_words_df,
    )

    m, k = BLOOM_NOVELTY_M, BLOOM_NOVELTY_K
    docs = _t(spark, sf_dir, "documents")

    def _fp(c):
        return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))

    old = docs.select(_fp(F.col("text")).alias("fp")).distinct()
    new = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "lang", _fp(F.col("text")).alias("fp")
    ).unionByName(
        docs.filter(F.col("doc_id") % 10 == 5).select(
            "doc_id",
            "lang",
            _fp(F.concat(F.col("text"), F.lit(" v2"))).alias("fp"),
        )
    )

    wm = bloom_words_df(old, "fp", m, k, positions=bloom_positions_md5).agg(
        F.map_from_arrays(
            F.collect_list("w"), F.collect_list("bits")
        ).alias("wm")
    )
    maybe = F.forall(
        bloom_positions_md5(F.col("fp"), m, k),
        lambda p: (
            F.coalesce(
                F.try_element_at(F.col("wm"), (p / 64).cast("long")),
                F.lit(0).cast("long"),
            ).bitwiseAND(_bit_mask(p))
            != 0
        ),
    )
    probed = new.join(F.broadcast(wm)).withColumn("maybe", maybe)
    exact = probed.join(
        old.select(F.col("fp").alias("fp_old")),
        probed["fp"] == F.col("fp_old"),
        "left",
    ).withColumn("is_dup", F.col("fp_old").isNotNull())
    return exact.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum(F.col("maybe").cast("bigint")).alias("n_maybe_dup"),
        F.sum(F.col("is_dup").cast("bigint")).alias("n_true_dup"),
        F.sum((F.col("maybe") & ~F.col("is_dup")).cast("bigint")).alias(
            "n_false_pos"
        ),
        F.sum((~F.col("maybe")).cast("bigint")).alias("n_definitely_new"),
    )


def _bloom_novelty_sql(m: int = BLOOM_NOVELTY_M, k: int = BLOOM_NOVELTY_K) -> str:
    mask = (
        "CASE WHEN p % 64 = 63 THEN -9223372036854775807 - 1 "
        "ELSE (1::BIGINT << CAST(p % 64 AS INTEGER)) END"
    )
    return f"""
WITH old AS (
  SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
), newc AS (
  SELECT doc_id, lang,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id, lang,
         md5(lower(regexp_replace(trim(text || ' v2'), '\\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 10 = 5
), oh AS (
  SELECT ('0x' || substr(md5(fp), 1, 15))::BIGINT % {m} AS h1,
         ('0x' || substr(md5(fp || '#2'), 1, 15))::BIGINT % {m} AS h2
  FROM old
), pos AS (
  SELECT (h1 + i * h2) % {m} AS p FROM oh, range(0, {k}) t(i)
), words AS (
  SELECT CAST(p // 64 AS BIGINT) AS w, bit_or({mask}) AS bits
  FROM pos GROUP BY 1
), nh AS (
  SELECT doc_id, lang, fp,
         ('0x' || substr(md5(fp), 1, 15))::BIGINT % {m} AS h1,
         ('0x' || substr(md5(fp || '#2'), 1, 15))::BIGINT % {m} AS h2
  FROM newc
), np AS (
  SELECT doc_id, lang, fp, (h1 + i * h2) % {m} AS p FROM nh, range(0, {k}) t(i)
), probe AS (
  SELECT np.doc_id, np.lang, np.fp,
         bool_and((COALESCE(words.bits, 0) & {mask}) <> 0) AS maybe
  FROM np LEFT JOIN words ON words.w = np.p // 64
  GROUP BY 1, 2, 3
), flag AS (
  SELECT probe.doc_id, probe.lang, probe.maybe,
         old.fp IS NOT NULL AS is_dup
  FROM probe LEFT JOIN old ON old.fp = probe.fp
)
SELECT lang,
       COUNT(*) AS n_new,
       CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe_dup,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dup,
       CAST(SUM(CASE WHEN maybe AND NOT is_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       CAST(SUM(CASE WHEN NOT maybe THEN 1 ELSE 0 END) AS BIGINT)
         AS n_definitely_new
FROM flag
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Unicode NFC normalization census (text hygiene before tokenization)
# ---------------------------------------------------------------------------

# The fixture corpus is ASCII, where NFC is the identity — so the query
# plants a deterministic per-bucket suffix that exercises the three
# interesting cases: a combining sequence that composes (e + U+0301 ->
# U+00E9, one code point shorter), a singleton that REPLACES under NFC
# at the same length (U+212B ANGSTROM SIGN -> U+00C5), and an
# already-composed char (U+00E9, unchanged). Bucket 3 stays pure ASCII.
_NFC_SUFFIXES: tuple[str, ...] = ("e\u0301", "\u212b", "\u00e9", "")


def unicode_nfc_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization pass over the corpus: per planted
    bucket, how many documents change under canonical composition and
    the total code-point delta — the hygiene audit a pipeline runs
    before tokenization (mixed NFC/NFD crawls make identical words
    hash differently, silently breaking dedup and vocabulary counts).

    Scale shape: one pruned mapInPandas Arrow kernel
    (``operators.textstats.nfc_normalize_stats``) emitting fixed-width
    stats — normalized text never re-crosses the Arrow boundary — then
    a 4-row map-side-combined aggregate. No shuffle of document text,
    no join."""
    from ..operators.textstats import nfc_normalize_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = F.pmod(F.col("doc_id"), F.lit(4)).cast("int")
    suffix = (
        F.when(bucket == 0, F.lit(_NFC_SUFFIXES[0]))
        .when(bucket == 1, F.lit(_NFC_SUFFIXES[1]))
        .when(bucket == 2, F.lit(_NFC_SUFFIXES[2]))
        .otherwise(F.lit(""))
    )
    aug = docs.select(
        bucket.alias("bucket"), F.concat("text", suffix).alias("t")
    )
    stats = nfc_normalize_stats(aug)
    return stats.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("changed").alias("n_changed"),
        F.sum("delta").alias("chars_delta"),
    )


_NFC_SQL = """
WITH aug AS (
  SELECT CAST(doc_id % 4 AS INTEGER) AS bucket,
         text || (CASE doc_id % 4
                  WHEN 0 THEN 'e' || chr(769)
                  WHEN 1 THEN chr(8491)
                  WHEN 2 THEN chr(233)
                  ELSE '' END) AS t
  FROM documents
)
SELECT bucket, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN nfc_normalize(t) <> t THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed,
       CAST(SUM(length(nfc_normalize(t)) - length(t)) AS BIGINT) AS chars_delta
FROM aug GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Outlink extraction (the link-graph builder over raw html)
# ---------------------------------------------------------------------------


def outlink_path_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph extraction from RAW HTML: pull every ``href`` out of
    the page bytes and census the link targets — (path, total links,
    pages containing it). This is the edge-builder that feeds
    link-graph analytics and the 'which targets are sitewide
    boilerplate' signal (a path on nearly every page of the corpus is
    chrome, not content).

    Scale shape: a pure map-side JVM pass over the html bytes
    (binary→string cast + ``regexp_extract_all`` + explode, no
    Python), then one (path) hash aggregate with map-side combine —
    html never shuffles, only (path, page-identity) link rows do, and
    the distinct-page count collapses per path. Invalid UTF-8 (the
    latin-1 variant) is harmless: the cast is permissive and every
    href sits in an ASCII region.

    Oracle strength: the DuckDB twin does NOT parse html — it counts
    the EXPECTED links directly from the synth template rules
    (variant -> per-path multiplicities, second-crawl variant shift),
    so the check catches a wrong extractor, not a differently-wrong
    pair."""
    from ..sources.readers import pages_df

    pages = pages_df(
        spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism
    )
    hrefs = F.regexp_extract_all(
        F.col("html").cast("string"), F.lit('href="([^"]*)"'), 1
    )
    links = pages.select(
        "url", "warc_ts", F.explode(hrefs).alias("path")
    )
    return links.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.count_distinct("url", "warc_ts").alias("n_pages"),
    )


def _outlink_sql() -> str:
    from ..sources.synth import SECOND_CRAWL_MOD, SECOND_CRAWL_REM

    # Per-variant link multiplicities of the synth templates: every
    # page carries the nav (5 paths) + footer (2); variants add their
    # own. Mirrors sources/synth.py _html_for.
    universal = ["/", "/news", "/contact", "/login", "/subscribe",
                 "/terms", "/privacy"]
    extras = [
        (1, "/a", 4),
        (5, "/x", 12),
        (8, "/promo", 2), (8, "/trending", 2), (8, "/cookie", 2),
        (14, "/go", 1),
        (15, "/promo", 2), (15, "/trending", 2), (15, "/cookie", 2),
    ]
    uni_rows = ", ".join(f"('{p}')" for p in universal)
    ex_rows = ", ".join(f"({v}, '{p}', {m})" for v, p, m in extras)
    return f"""
WITH pages AS (
  SELECT doc_id % 16 AS variant FROM documents
  UNION ALL
  SELECT (doc_id % 16 + 2) % 16 FROM documents
  WHERE doc_id % {SECOND_CRAWL_MOD} = {SECOND_CRAWL_REM}
), vc AS (
  SELECT variant, COUNT(*) AS n FROM pages GROUP BY 1
), uni AS (
  SELECT u.path, SUM(vc.n) AS n_links, SUM(vc.n) AS n_pages
  FROM vc CROSS JOIN (VALUES {uni_rows}) u(path)
  GROUP BY 1
), ex AS (
  SELECT m.path, SUM(vc.n * m.mult) AS n_links, SUM(vc.n) AS n_pages
  FROM vc JOIN (VALUES {ex_rows}) m(variant, path, mult) USING (variant)
  GROUP BY 1
)
SELECT path, CAST(SUM(n_links) AS BIGINT) AS n_links,
       CAST(SUM(n_pages) AS BIGINT) AS n_pages
FROM (SELECT * FROM uni UNION ALL SELECT * FROM ex)
GROUP BY path
"""


# ---------------------------------------------------------------------------
# Incremental novelty: first-seen shingle rate per crawl hour
# ---------------------------------------------------------------------------


def crawl_novel_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl novelty at N-GRAM granularity: per crawl
    hour, how many 3-word shingle occurrences the hour contributed and
    how many DISTINCT shingles were seen for the first time — the
    marginal-value curve of continued crawling ("are new segments
    still adding novel text, or re-serving what we hold?"). Finer-
    grained than ``crawl_bloom_novelty``'s whole-document verdicts:
    partially-novel pages show up here.

    Scale shape: shingle explode (the same linear pass every dedup
    tier runs) -> ONE (shingle-hash) aggregate for the global
    first-seen hour -> an equi-join back on the hash -> one (hour)
    census aggregate. The first-seen table is vocabulary-sized and the
    join is hash-partitioned on the shingle key, so nothing is
    quadratic and no text crosses the wire — only 60-bit hashes."""
    from ..sources.readers import pages_df

    pages = pages_df(
        spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism
    )
    toks = F.split(F.trim("text"), r"\s+")
    hashes = F.transform(word_shingles_all(toks, 3), md5_int)
    occ = pages.select(
        F.date_trunc("hour", F.col("warc_ts")).alias("bucket"),
        F.explode(hashes).alias("h"),
    )
    first = occ.groupBy("h").agg(F.min("bucket").alias("b0"))
    return (
        occ.join(first, "h")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct(
                F.when(F.col("b0") == F.col("bucket"), F.col("h"))
            ).alias("n_novel_shingles"),
        )
    )


def _novel_shingles_sql() -> str:
    from ..sources.synth import SECOND_CRAWL_MOD, SECOND_CRAWL_REM

    return f"""
WITH p AS (
  SELECT text, TIMESTAMP '2024-01-01 00:00:00'
               + doc_id * INTERVAL 1 SECOND AS ts
  FROM documents
  UNION ALL
  SELECT text, TIMESTAMP '2024-01-01 00:00:00'
               + (doc_id + 86400) * INTERVAL 1 SECOND
  FROM documents WHERE doc_id % {SECOND_CRAWL_MOD} = {SECOND_CRAWL_REM}
), t AS (
  SELECT date_trunc('hour', ts) AS bucket,
         regexp_split_to_array(trim(text), '\\s+') AS w
  FROM p
), occ AS (
  SELECT bucket,
         ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
                         1, 15))::BIGINT AS h
  FROM (SELECT bucket, w, unnest(range(1, len(w) - 1)) AS i
        FROM t WHERE len(w) >= 3)
), first AS (
  SELECT h, MIN(bucket) AS b0 FROM occ GROUP BY 1
)
SELECT bucket, COUNT(*) AS n_occurrences,
       CAST(COUNT(DISTINCT CASE WHEN b0 = bucket THEN h END) AS BIGINT)
         AS n_novel_shingles
FROM occ JOIN first USING (h)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Template detection: DOM-shape census over raw html
# ---------------------------------------------------------------------------

# The synth templates collapse into these first-appearance tag shapes
# (frozen from sources/synth.py _html_for; `br` is excluded from the
# signature because line-break count is content-, not template-,
# dependent). variant -> shape string.
_SHAPE_BASE = "html,head,meta,title,script,style,body,div,a"
_VARIANT_SHAPES: dict[int, str] = {
    0: _SHAPE_BASE,
    1: _SHAPE_BASE,
    9: _SHAPE_BASE,
    2: _SHAPE_BASE + ",p",
    3: _SHAPE_BASE + ",p",
    6: _SHAPE_BASE + ",p",
    8: _SHAPE_BASE + ",p",
    10: _SHAPE_BASE + ",p",
    15: _SHAPE_BASE + ",p",
    4: _SHAPE_BASE + ",h2,p",
    5: _SHAPE_BASE + ",h2,p",
    7: _SHAPE_BASE + ",select,option,p",
    11: _SHAPE_BASE + ",p,span",
    12: "html,head,meta,title,body,div,a,p",
    13: _SHAPE_BASE + ",table,tr,td",
    14: _SHAPE_BASE + ",form,fieldset,legend,p",
}


def template_shape_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template detection over RAW HTML: fingerprint each page's DOM
    SHAPE — the first-appearance order of its tag names — and census
    the shapes (pages, hosts). A shape carried by thousands of pages
    across many hosts is a CMS/boilerplate template; extraction QA
    samples one page per shape instead of eyeballing random pages.

    The signature deliberately ignores tag multiplicity and ``br``
    (content-dependent), so it keys the TEMPLATE, not the article
    length — that is what makes it stable across a site's pages.

    Scale shape: map-side JVM regex + ``array_distinct`` (order-
    preserving first occurrence) over the html bytes, then one (shape)
    hash aggregate — html never shuffles; only (shape, host) rows do.

    Oracle strength: the twin maps synth template variants straight to
    their frozen expected shape STRINGS (no html parse), so the
    compare pins the real extractor's byte-exact shapes against
    intent."""
    from ..sources.readers import pages_df

    pages = pages_df(
        spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism
    )
    tags = F.regexp_extract_all(
        F.col("html").cast("string"), F.lit("<([a-zA-Z][a-zA-Z0-9]*)"), 1
    )
    shape = F.array_join(
        F.array_remove(
            F.array_distinct(F.transform(tags, F.lower)), "br"
        ),
        ",",
    )
    host = F.regexp_extract("url", r"^http://([^/]+)/", 1)
    return (
        pages.select(shape.alias("shape"), host.alias("host"))
        .groupBy("shape")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.count_distinct("host").alias("n_hosts"),
        )
    )


def _template_shape_sql() -> str:
    from ..sources.synth import (
        HOT_HOST_SOURCE,
        N_HOSTS,
        SECOND_CRAWL_MOD,
        SECOND_CRAWL_REM,
    )

    shape_rows = ", ".join(
        f"({v}, '{s}')" for v, s in sorted(_VARIANT_SHAPES.items())
    )
    host_expr = f"""CASE WHEN source = '{HOT_HOST_SOURCE}' THEN 'skew.example'
              ELSE 'host' || CAST(doc_id % {N_HOSTS} AS VARCHAR) || '.example'
         END"""
    return f"""
WITH pages AS (
  SELECT doc_id % 16 AS variant, {host_expr} AS host FROM documents
  UNION ALL
  SELECT (doc_id % 16 + 2) % 16, {host_expr} FROM documents
  WHERE doc_id % {SECOND_CRAWL_MOD} = {SECOND_CRAWL_REM}
)
SELECT m.shape, COUNT(*) AS n_pages,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
FROM pages JOIN (VALUES {shape_rows}) m(variant, shape) USING (variant)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Leakage-safe train/valid/test split (site-level, not doc-level)
# ---------------------------------------------------------------------------

SPLIT_TRAIN_PCT = 90
SPLIT_VALID_PCT = 5  # test gets the remainder


def leakage_safe_split_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/valid/test split census with the leakage rule every
    pretraining/eval pipeline needs: the split key is the SITE
    (``source``), not the document — hashing doc_ids would scatter one
    site's near-duplicate pages across train and test and leak
    templated content into evaluation. Emits per-split site/doc/token
    counts plus ``n_leaky_sources`` — a data-derived audit that counts
    sites observed in more than one split (structurally zero here, but
    the census computes it from the data, catching a future key
    refactor that silently breaks the invariant).

    Scale shape: the split is a map-side hash of the site key (no
    membership table, reproducible across runs/engines); the census is
    one hash aggregate; the audit is a (source) aggregate whose result
    collapses to a ONE-ROW broadcast attached by cross-join."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    pct = F.pmod(
        md5_int(F.concat(F.lit("split:"), F.col("source"))), F.lit(100)
    )
    split = (
        F.when(pct < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(pct < SPLIT_TRAIN_PCT + SPLIT_VALID_PCT, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    tagged = docs.withColumn("split", split)
    per = tagged.groupBy("split").agg(
        F.count_distinct("source").alias("n_sources"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_col("text"))).cast("bigint").alias("n_tokens"),
    )
    leaks = (
        tagged.groupBy("source")
        .agg(F.count_distinct("split").alias("ns"))
        .agg(
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_leaky_sources")
        )
    )
    return per.crossJoin(F.broadcast(leaks))


_SPLIT_SQL = f"""
WITH tagged AS (
  SELECT source, text,
         CASE
           WHEN ('0x' || substr(md5('split:' || source), 1, 15))::BIGINT % 100
                < {SPLIT_TRAIN_PCT} THEN 'train'
           WHEN ('0x' || substr(md5('split:' || source), 1, 15))::BIGINT % 100
                < {SPLIT_TRAIN_PCT + SPLIT_VALID_PCT} THEN 'valid'
           ELSE 'test'
         END AS split
  FROM documents
), per AS (
  SELECT split, COUNT(DISTINCT source) AS n_sources, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM tagged GROUP BY 1
), leaks AS (
  SELECT CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaky_sources
  FROM (SELECT source, COUNT(DISTINCT split) AS ns FROM tagged GROUP BY 1)
)
SELECT split, n_sources, n_docs, n_tokens, n_leaky_sources
FROM per CROSS JOIN leaks
"""


# ---------------------------------------------------------------------------
# Charset-sniff census over raw page bytes
# ---------------------------------------------------------------------------


def page_encoding_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset census of the raw crawl: which codec the deterministic
    sniff (algo.encoding — BOM, meta charset, utf-8 attempt, latin-1
    fallback) actually uses per page, with page/url counts — the
    drives-the-decode-stage number a crawl profile reports, and the
    standalone driver gate for the sniffer that otherwise only runs
    inline inside extract_pages.

    Scale shape: one pruned mapInPandas Arrow kernel over (url,
    warc_ts, html) emitting fixed-width rows (bytes never re-cross
    Arrow), then a codec-grain hash aggregate with map-side combine.

    Oracle strength: the twin derives the EXPECTED codec per page from
    the synth template rule (variant 12 declares iso-8859-1 and is
    latin-1-encoded; every other variant declares utf-8), so a sniffer
    that ignores the meta tag or mis-decodes fails the check."""
    from ..operators.textstats import sniff_codec_stats
    from ..sources.readers import pages_df

    pages = pages_df(
        spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism
    )
    stats = sniff_codec_stats(pages)
    return stats.groupBy("codec").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.count_distinct("url").alias("n_urls"),
    )


def _encoding_sql() -> str:
    from ..sources.synth import SECOND_CRAWL_MOD, SECOND_CRAWL_REM

    # Mirrors sources/synth.py _html_for: variant 12 ships latin-1
    # bytes behind an iso-8859-1 meta tag, everything else utf-8
    # (declared AND valid). The twin derives expected codecs from
    # `documents` alone — the html bytes exist only Spark-side, so a
    # byte-total column would force the twin to re-implement the
    # templates; counts are the honest check.
    return f"""
WITH pages AS (
  SELECT doc_id, doc_id % 16 AS variant FROM documents
  UNION ALL
  SELECT doc_id, (doc_id % 16 + 2) % 16 FROM documents
  WHERE doc_id % {SECOND_CRAWL_MOD} = {SECOND_CRAWL_REM}
)
SELECT CASE WHEN variant = 12 THEN 'latin-1' ELSE 'utf-8' END AS codec,
       COUNT(*) AS n_pages,
       COUNT(DISTINCT doc_id) AS n_urls
FROM pages GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Anchor-text aggregation per link target
# ---------------------------------------------------------------------------

_ANCHOR_RE = '<a href="([^"]*)">([^<]*)</a>'


def anchor_text_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation: for every link TARGET, the anchor
    strings pointing at it and how many pages/links carry each — the
    web-IR signal (anchor text describes the target better than the
    target describes itself) that feeds query-independent doc priors
    and WebText-style 'linked-with-informative-anchor' filters.

    Extraction is PAIRED: href and inner text must come from the SAME
    anchor element, so a single-group href pass (outlink_path_census)
    can't produce it. The whole-match array (``regexp_extract_all``
    group 0) is re-matched per element with ``transform`` — all JVM
    higher-order expressions, no Python.

    Scale shape: map-side regex over the html bytes, then ONE
    (path, anchor) hash aggregate — html never shuffles, only the
    exploded (path, anchor, page-identity) rows do.

    Oracle strength: the DuckDB twin counts the EXPECTED (path,
    anchor) pairs straight from the synth template rules (variant
    multiplicities + second-crawl shift), so it catches a wrong
    extractor, not a differently-wrong pair."""
    from ..sources.readers import pages_df

    pages = pages_df(
        spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism
    )
    matches = F.regexp_extract_all(
        F.col("html").cast("string"), F.lit(_ANCHOR_RE), 0
    )
    pairs = F.transform(
        matches,
        lambda m: F.struct(
            F.regexp_extract(m, _ANCHOR_RE, 1).alias("path"),
            F.regexp_extract(m, _ANCHOR_RE, 2).alias("anchor"),
        ),
    )
    links = pages.select(
        "url", "warc_ts", F.explode(pairs).alias("a")
    ).select("url", "warc_ts", "a.path", "a.anchor")
    return links.groupBy("path", "anchor").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.count_distinct("url", "warc_ts").alias("n_pages"),
    )


def _anchor_sql() -> str:
    from ..sources.synth import SECOND_CRAWL_MOD, SECOND_CRAWL_REM

    # Per-variant (path, anchor, multiplicity) of the synth templates:
    # every page carries the nav (5 anchors) + footer (2); variants add
    # their own. Mirrors sources/synth.py _html_for / _NAV / _SIDEBAR /
    # _FOOTER — the same intent rules as _outlink_sql, extended with
    # the anchor string each template binds to its path.
    universal = [
        ("/", "portal"), ("/news", "newsfeed"), ("/contact", "contact"),
        ("/login", "login"), ("/subscribe", "subscribe"),
        ("/terms", "terms"), ("/privacy", "privacy"),
    ]
    extras = [
        (1, "/a", "archive index", 4),
        (5, "/x", "gallery teaser snippet", 12),
        (8, "/promo", "promo banner", 2),
        (8, "/trending", "trending widget", 2),
        (8, "/cookie", "cookie notice", 2),
        (14, "/go", "submit entry", 1),
        (15, "/promo", "promo banner", 2),
        (15, "/trending", "trending widget", 2),
        (15, "/cookie", "cookie notice", 2),
    ]
    uni_rows = ", ".join(f"('{p}', '{a}')" for p, a in universal)
    ex_rows = ", ".join(f"({v}, '{p}', '{a}', {m})" for v, p, a, m in extras)
    return f"""
WITH pages AS (
  SELECT doc_id % 16 AS variant FROM documents
  UNION ALL
  SELECT (doc_id % 16 + 2) % 16 FROM documents
  WHERE doc_id % {SECOND_CRAWL_MOD} = {SECOND_CRAWL_REM}
), vc AS (
  SELECT variant, COUNT(*) AS n FROM pages GROUP BY 1
), uni AS (
  SELECT u.path, u.anchor, SUM(vc.n) AS n_links, SUM(vc.n) AS n_pages
  FROM vc CROSS JOIN (VALUES {uni_rows}) u(path, anchor)
  GROUP BY 1, 2
), ex AS (
  SELECT m.path, m.anchor, SUM(vc.n * m.mult) AS n_links,
         SUM(vc.n) AS n_pages
  FROM vc JOIN (VALUES {ex_rows}) m(variant, path, anchor, mult)
    USING (variant)
  GROUP BY 1, 2
)
SELECT path, anchor, CAST(SUM(n_links) AS BIGINT) AS n_links,
       CAST(SUM(n_pages) AS BIGINT) AS n_pages
FROM (SELECT * FROM uni UNION ALL SELECT * FROM ex)
GROUP BY path, anchor
"""

# ---------------------------------------------------------------------------
# SCD-2 page-version history (temporal table construction)
# ---------------------------------------------------------------------------


def scd2_page_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history of every url's raw
    content: one row per (url, distinct-content version) carrying
    ``valid_from`` / ``valid_to`` / open-endedness — the warehouse
    primitive behind "what did this page say on date X" and
    time-travel joins, built from the crawl log without any MERGE
    machinery. Change points come from lag(md5(html)) over the url's
    crawl order; ``valid_to`` is the next change's ``valid_from``
    (lead), NULL while current.

    The driver row is a per-host census over the interval table —
    url/version/interval counts, total closed-interval seconds, and a
    48-bit fingerprint sum over url|version|valid_from|valid_to — so
    the check pins every interval byte, not just counts.

    Scale shape: ONE shuffle, on url. Both windows (lag for change
    detection, row_number+lead for interval assembly) share the same
    partitioning and ordering, so Catalyst reuses the exchange and
    sort; the final host census is a map-side-combining hash
    aggregate. Only (url, ts, 32-hex hash) rows move — never html
    bytes. At 100 TB with a deep crawl history the url key is the
    natural even partitioner (no hot key: history depth per url is
    bounded by recrawl policy, not corpus size)."""
    from ..sources.readers import pages_df

    pages = pages_df(
        spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism
    )
    host = F.regexp_extract("url", r"^http://([^/]+)/", 1)
    crawls = pages.select(
        host.alias("host"), "url", "warc_ts", F.md5("html").alias("raw_h")
    )
    w = Window.partitionBy("url").orderBy("warc_ts")
    changes = crawls.withColumn("prev_h", F.lag("raw_h").over(w)).filter(
        F.col("prev_h").isNull() | (F.col("prev_h") != F.col("raw_h"))
    )
    # ntz -> timestamp -> long is floored epoch seconds under the
    # pinned-UTC session tz (same convention as q_event_sessions)
    ep_from = F.col("warc_ts").cast("timestamp").cast("long")
    hist = (
        changes.select("host", "url", "warc_ts")
        .withColumn("version_no", F.row_number().over(w))
        .withColumn("ep_from", ep_from)
        .withColumn("ep_to", F.lead("ep_from").over(w))
    )
    return _history_census(hist)


def _history_census(hist: DataFrame) -> DataFrame:
    """Per-host census + interval fingerprint over an SCD-2 interval
    table (host, url, version_no, ep_from, ep_to) — shared by the
    from-scratch and incremental-merge queries so both are pinned by
    the SAME oracle."""
    key = F.concat_ws(
        "|",
        "url",
        F.col("version_no").cast("string"),
        F.col("ep_from").cast("string"),
        F.coalesce(F.col("ep_to").cast("string"), F.lit("open")),
    )
    return hist.groupBy("host").agg(
        F.count_distinct(F.col("url")).alias("n_urls"),
        F.count(F.lit(1)).alias("n_versions"),
        F.sum(F.col("ep_to").isNull().cast("bigint")).alias("n_current"),
        F.sum(F.col("ep_to").isNotNull().cast("bigint")).alias("n_closed"),
        F.sum(F.coalesce(F.col("ep_to") - F.col("ep_from"), F.lit(0)))
        .cast("bigint")
        .alias("closed_duration_sec"),
        F.sum(_fp48(key)).alias("history_fp_sum"),
    )


def scd2_incremental_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SCD-2 maintenance, end to end: seed the history
    from each url's FIRST crawl only (operators.temporal.build_scd2),
    fold every later crawl in as an increment
    (operators.temporal.merge_scd2_increment), and census the merged
    history. The oracle is the SAME intent-built SQL as
    scd2_page_history — merge-then-census must equal
    rebuild-then-census, which is the operator's correctness
    contract (also asserted row-level in tests/test_scd2_sampling.py
    with a multi-change synthetic delta).

    Scale shape: the merge touches only the increment's url groups —
    closed intervals pass through untouched, open rows of absent urls
    leave via one broadcast anti-join; the window stage's input is
    ~2|Δ| rows. This is the per-crawl-batch upsert path a warehouse
    actually runs (vs scd2_page_history's full rebuild)."""
    from ..operators.temporal import build_scd2, merge_scd2_increment
    from ..sources.readers import pages_df

    pages = pages_df(
        spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism
    )
    host = F.regexp_extract("url", r"^http://([^/]+)/", 1)
    crawls = pages.select(
        host.alias("host"), "url", "warc_ts", F.md5("html").alias("raw_h")
    )
    w = Window.partitionBy("url").orderBy("warc_ts")
    ranked = crawls.withColumn("crawl_no", F.row_number().over(w))
    first = ranked.filter(F.col("crawl_no") == 1).drop("crawl_no")
    later = ranked.filter(F.col("crawl_no") > 1).drop("crawl_no")
    merged = merge_scd2_increment(build_scd2(first), later)
    return _history_census(merged)


def _scd2_sql() -> str:
    from ..sources.synth import (
        HOT_HOST_SOURCE,
        N_HOSTS,
        SECOND_CRAWL_MOD,
        SECOND_CRAWL_REM,
    )

    # Intent-built from the synth rules (the oracle cannot re-render the
    # html bytes): every url has version 1 at BASE_TS + doc_id sec; the
    # doc_id % 20 == 7 urls are recrawled 86400 s later with a rotated
    # template, which crawl_content_diff's green oracle already pins as
    # a RAW-byte change — so those urls carry exactly two versions, the
    # first closed at the second's valid_from, the second open.
    return f"""
WITH v AS (
  SELECT CASE WHEN source = '{HOT_HOST_SOURCE}' THEN 'skew.example'
              ELSE 'host' || CAST(doc_id % {N_HOSTS} AS VARCHAR) || '.example'
         END AS host,
         'http://' || host || '/' || CAST(doc_id AS VARCHAR) AS url,
         1 AS version_no,
         CAST(floor(epoch(TIMESTAMP '2024-01-01')) AS BIGINT) + doc_id AS ep_from,
         CASE WHEN doc_id % {SECOND_CRAWL_MOD} = {SECOND_CRAWL_REM}
              THEN CAST(floor(epoch(TIMESTAMP '2024-01-01')) AS BIGINT)
                   + doc_id + 86400
         END AS ep_to
  FROM documents
  UNION ALL
  SELECT CASE WHEN source = '{HOT_HOST_SOURCE}' THEN 'skew.example'
              ELSE 'host' || CAST(doc_id % {N_HOSTS} AS VARCHAR) || '.example'
         END AS host,
         'http://' || host || '/' || CAST(doc_id AS VARCHAR) AS url,
         2 AS version_no,
         CAST(floor(epoch(TIMESTAMP '2024-01-01')) AS BIGINT)
           + doc_id + 86400 AS ep_from,
         NULL AS ep_to
  FROM documents
  WHERE doc_id % {SECOND_CRAWL_MOD} = {SECOND_CRAWL_REM}
)
SELECT host,
       COUNT(DISTINCT url) AS n_urls,
       COUNT(*) AS n_versions,
       CAST(SUM(CASE WHEN ep_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_current,
       CAST(SUM(CASE WHEN ep_to IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_closed,
       CAST(SUM(COALESCE(ep_to - ep_from, 0)) AS BIGINT) AS closed_duration_sec,
       CAST(SUM(('0x' || substr(md5(
           url || '|' || CAST(version_no AS VARCHAR) || '|'
               || CAST(ep_from AS VARCHAR) || '|'
               || COALESCE(CAST(ep_to AS VARCHAR), 'open')
       ), 1, 12))::BIGINT) AS BIGINT) AS history_fp_sum
FROM v
GROUP BY host
"""


# -- module registry (merged into plans.queries.SQL_CHECKED) ----------------
_REGISTRY = {
    "anchor_text_census": (anchor_text_census, _anchor_sql()),
    "page_encoding_census": (page_encoding_census, _encoding_sql()),
    "pii_redaction": (pii_redaction, _PII_SQL),
    "unicode_nfc_census": (unicode_nfc_census, _NFC_SQL),
    "leakage_safe_split_census": (leakage_safe_split_census, _SPLIT_SQL),
    "outlink_path_census": (outlink_path_census, _outlink_sql()),
    "template_shape_census": (template_shape_census, _template_shape_sql()),
    "crawl_novel_shingles": (crawl_novel_shingles, _novel_shingles_sql()),
    "url_blocklist_filter": (url_blocklist_filter, _blocklist_sql()),
    "crawl_content_diff": (crawl_content_diff, _crawl_diff_sql()),
    "crawl_bloom_novelty": (crawl_bloom_novelty, _bloom_novelty_sql()),
    "boilerplate_line_census": (boilerplate_line_census, _LINE_CENSUS_SQL),
    "line_dedup_clean": (line_dedup_clean, _LINE_CLEAN_SQL),
    "scd2_page_history": (scd2_page_history, _scd2_sql()),
    "scd2_incremental_census": (scd2_incremental_census, _scd2_sql()),
}
