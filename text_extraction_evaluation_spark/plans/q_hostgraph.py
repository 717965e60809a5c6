"""Host-graph and crawl-ops battery: per-host census, URL canonical
dedup, PageRank, per-domain capping, triangle/clustering census,
label-propagation communities, BFS hop depth, and crawl-budget
allocation.

Split out of plans/q_extraction.py (round 4, VERDICT r3 #8 — keep
plan modules under the 2,000-line readability budget); the functions,
their SQL twins, and their registry keys are unchanged, and
plans/queries.py re-exports everything so import paths are stable."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import canonical_url, md5_int
from .common import (  # noqa: F401 — shared helpers + SQL fragments
    _docs_par,
    _t,
)
from .q_extraction import _fp48


def host_skew_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl census over the pages table: page count, distinct
    urls, crawls per url — the skew report that motivates
    operators.extract.salted_repartition (the fixture plants one hot
    host, 'skew.example', holding an entire source's pages; at Common-
    Crawl scale single hosts hold millions of pages and a plain
    url-hash partitioning puts them in one task). Host parse is a JVM
    regexp (whole-stage codegen), one hash aggregate — the cheapest
    possible skew diagnostic, run before choosing a salt factor.

    Oracle: the synthesis rules (sources.synth.url_for + the second-
    crawl selector) are deterministic integer functions of doc_id and
    source, so the DuckDB twin reconstructs the same census from the
    documents table."""
    from ..sources.readers import pages_df

    # spread the one-split fixture across cores BEFORE the synthesis
    # kernel (same reason as _docs_par — without this the html synth
    # runs on a single task)
    pages = pages_df(
        spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism
    )
    host = F.regexp_extract("url", r"^http://([^/]+)/", 1)
    return (
        pages.select(host.alias("host"), "url")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("url").alias("n_urls"),
        )
        .withColumn(
            "crawls_per_url",
            F.round(F.col("n_pages").cast("double") / F.col("n_urls"), 6),
        )
    )


def _host_census_sql() -> str:
    from ..sources.synth import (
        HOT_HOST_SOURCE,
        N_HOSTS,
        SECOND_CRAWL_MOD,
        SECOND_CRAWL_REM,
    )

    return f"""
WITH pages AS (
  SELECT doc_id, source FROM documents
  UNION ALL
  SELECT doc_id, source FROM documents
  WHERE doc_id % {SECOND_CRAWL_MOD} = {SECOND_CRAWL_REM}
), h AS (
  SELECT CASE WHEN source = '{HOT_HOST_SOURCE}' THEN 'skew.example'
              ELSE 'host' || CAST(doc_id % {N_HOSTS} AS VARCHAR) || '.example'
         END AS host,
         doc_id
  FROM pages
)
SELECT host, COUNT(*) AS n_pages, COUNT(DISTINCT doc_id) AS n_urls,
       ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id), 6) AS crawls_per_url
FROM h GROUP BY host
"""


def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup census — the crawl-frontier normalization
    every web pipeline runs before url-level dedup: lowercase the
    host, strip the default port, drop the fragment, drop tracking
    params (utm_*) while KEEPING meaningful ones (sorted for a stable
    key), and strip a trailing slash. The fixture's clean urls are
    deterministically decorated (by doc_id residue: utm query strings,
    uppercased hosts, :80 ports, fragments, trailing slashes) so the
    normalizer has real work to do; the decoration rules live only in
    this query, mirrored in the oracle.

    Oracle strength: the DuckDB twin does NOT re-run the regex
    normalizer — it constructs the EXPECTED canonical url directly
    from the decoration rules, so the check catches a wrong normalizer
    (not just a differently-wrong pair).

    Scale shape: wholly map-side JVM regexps (url parse, param filter
    + array_sort, no UDF) followed by one (host) hash aggregate of
    distinct counts — the same shape as host_skew_census."""
    from ..sources.synth import HOT_HOST_SOURCE, N_HOSTS

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    host0 = F.when(
        F.col("source") == HOT_HOST_SOURCE, F.lit("skew.example")
    ).otherwise(
        F.concat(
            F.lit("host"), (F.col("doc_id") % N_HOSTS).cast("string"),
            F.lit(".example"),
        )
    )
    d = F.col("doc_id")
    # deterministic decoration: the messy real-world variants
    host_dec = F.when(d % 5 == 2, F.upper(host0)).otherwise(host0)
    port = F.when(d % 8 == 5, F.lit(":80")).otherwise(F.lit(""))
    slash = F.when(d % 7 == 3, F.lit("/")).otherwise(F.lit(""))
    query = F.when(
        d % 4 == 1,
        F.concat(
            F.lit("?utm_source=feed&id="), d.cast("string"),
            F.lit("&utm_campaign=c"), (d % 3).cast("string"),
        ),
    ).otherwise(F.lit(""))
    frag = F.when(
        d % 6 == 4, F.concat(F.lit("#sec"), (d % 2).cast("string"))
    ).otherwise(F.lit(""))
    raw = F.concat(
        F.lit("http://"), host_dec, port, F.lit("/"), d.cast("string"),
        slash, query, frag,
    )
    u = docs.select("doc_id", raw.alias("raw_url"))
    # the normalizer under test lives in functions.text.canonical_url
    # (property-tested idempotent); host re-derived from the canonical
    canonical = canonical_url(F.col("raw_url"))
    per_url = u.select(
        "doc_id", "raw_url", canonical.alias("canonical_url"),
        F.regexp_extract(canonical, r"^http://([^/?#]+)", 1).alias("host"),
    )
    return (
        per_url.groupBy("host")
        .agg(
            F.countDistinct("raw_url").alias("n_raw_urls"),
            F.countDistinct("canonical_url").alias("n_canonical_urls"),
            F.sum(
                (F.col("raw_url") != F.col("canonical_url")).cast("bigint")
            ).alias("n_rewritten"),
        )
    )


def _url_canonical_sql() -> str:
    from ..sources.synth import HOT_HOST_SOURCE, N_HOSTS

    return f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN source = '{HOT_HOST_SOURCE}' THEN 'skew.example'
              ELSE 'host' || CAST(doc_id % {N_HOSTS} AS VARCHAR) || '.example'
         END AS host
  FROM documents
), u AS (
  SELECT doc_id, host,
         'http://'
           || CASE WHEN doc_id % 5 = 2 THEN upper(host) ELSE host END
           || CASE WHEN doc_id % 8 = 5 THEN ':80' ELSE '' END
           || '/' || CAST(doc_id AS VARCHAR)
           || CASE WHEN doc_id % 7 = 3 THEN '/' ELSE '' END
           || CASE WHEN doc_id % 4 = 1
                   THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
                        || '&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR)
                   ELSE '' END
           || CASE WHEN doc_id % 6 = 4
                   THEN '#sec' || CAST(doc_id % 2 AS VARCHAR) ELSE '' END
           AS raw_url,
         -- EXPECTED canonical, built from intent (not by re-running
         -- the normalizer): lowercase host, no port, no fragment, no
         -- trailing slash, only the non-utm param kept
         'http://' || host || '/' || CAST(doc_id AS VARCHAR)
           || CASE WHEN doc_id % 4 = 1
                   THEN '?id=' || CAST(doc_id AS VARCHAR) ELSE '' END
           AS canonical_url
  FROM d
)
SELECT host,
       COUNT(DISTINCT raw_url) AS n_raw_urls,
       COUNT(DISTINCT canonical_url) AS n_canonical_urls,
       CAST(SUM(CASE WHEN raw_url <> canonical_url THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rewritten
FROM u GROUP BY host
"""


# PageRank quantization / iteration constants (shared by the Spark plan
# and the unrolled-CTE oracle — the two sides must do the SAME integer
# arithmetic in the SAME order).
PR_SCALE = 10**12
PR_ITERS = 5
PR_EDGE_MULT = 7
PR_EDGE_ADD = 3


def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank — the link-centrality signal crawl frontiers
    and corpus quality weights use (alongside the per-doc filters).
    The fixture link graph is deterministic: each document emits one
    edge from its own host (the url_for rule, including the planted
    hot host) to host ``(doc_id * 7 + 3) mod N_HOSTS`` — SQL-
    reconstructable, so the oracle is exact.

    The iterative-graph shape done as composed DataFrame ops with ZERO
    driver actions (same discipline as kmeans_embeddings /
    dedup_components): per iteration one equi-join of the weighted
    edge list with the rank table on src and one hash aggregate on
    dst — at web scale (10^8 hosts, 10^11 edges) that is one shuffle
    per iteration, partial-agg friendly, with the rank table orders of
    magnitude smaller than the edge list. Ranks here flow through the
    join un-broadcast (AQE may elect a broadcast at fixture scale; at
    10^8 hosts it stays a shuffle join — the plan is valid either way).

    Determinism across engines: ranks are integer-quantized
    (``rank_e12``, mass ``PR_SCALE`` split evenly at init), every
    division is integer DIV (truncation identical in Spark and
    DuckDB), damping 0.85 applied as ``(85 * x) DIV 100``. Truncation
    sheds a few units of mass per step — identically on both engines.
    Dangling hosts (no outlinks — only ever the planted hot host's
    targets) simply leak their damped mass, the standard simplified
    treatment."""
    from ..sources.synth import HOT_HOST_SOURCE, N_HOSTS

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    src = F.when(
        F.col("source") == HOT_HOST_SOURCE, F.lit("skew.example")
    ).otherwise(
        F.concat(
            F.lit("host"), (F.col("doc_id") % N_HOSTS).cast("string"),
            F.lit(".example"),
        )
    )
    dst = F.concat(
        F.lit("host"),
        ((F.col("doc_id") * PR_EDGE_MULT + PR_EDGE_ADD) % N_HOSTS).cast("string"),
        F.lit(".example"),
    )
    edges = (
        docs.select(src.alias("src"), dst.alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    deg = edges.groupBy("src").agg(F.sum("w").alias("deg"))
    ew = edges.join(deg, "src")
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    n_tbl = nodes.agg(F.count(F.lit(1)).alias("n"))
    base = F.expr(f"(15 * (CAST({PR_SCALE} AS BIGINT) DIV n)) DIV 100")
    ranks = nodes.join(F.broadcast(n_tbl)).select(
        "host", F.expr(f"CAST({PR_SCALE} AS BIGINT) DIV n").alias("rank_e12")
    )
    for _ in range(PR_ITERS):
        inc = (
            ew.join(ranks, ew["src"] == ranks["host"])
            .select("dst", F.expr("(rank_e12 * w) DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inc"))
        )
        ranks = (
            nodes.join(F.broadcast(n_tbl))
            .join(inc, nodes["host"] == inc["dst"], "left")
            .select(
                "host",
                (
                    base
                    + F.expr("(85 * coalesce(inc, CAST(0 AS BIGINT))) DIV 100")
                ).alias("rank_e12"),
            )
        )
    return ranks


def _pagerank_sql() -> str:
    from ..sources.synth import HOT_HOST_SOURCE, N_HOSTS

    pre = f"""
WITH e0 AS (
  SELECT CASE WHEN source = '{HOT_HOST_SOURCE}' THEN 'skew.example'
              ELSE 'host' || CAST(doc_id % {N_HOSTS} AS VARCHAR) || '.example'
         END AS src,
         'host' || CAST((doc_id * {PR_EDGE_MULT} + {PR_EDGE_ADD}) % {N_HOSTS} AS VARCHAR)
           || '.example' AS dst
  FROM documents
), edges AS (
  SELECT src, dst, COUNT(*) AS w FROM e0 GROUP BY 1, 2
), dg AS (
  SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM edges GROUP BY 1
), ew AS (
  SELECT edges.src, edges.dst, CAST(w AS BIGINT) AS w, deg
  FROM edges JOIN dg USING (src)
), nodes AS (
  SELECT DISTINCT host
  FROM (SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges)
), nn AS (
  SELECT COUNT(*) AS n FROM nodes
), r0 AS (
  SELECT host, CAST({PR_SCALE} AS BIGINT) // n AS rank_e12
  FROM nodes CROSS JOIN nn
)"""
    its = []
    for i in range(PR_ITERS):
        its.append(f""", inc{i} AS (
  SELECT dst, CAST(SUM((rank_e12 * w) // deg) AS BIGINT) AS inc
  FROM ew JOIN r{i} ON r{i}.host = ew.src GROUP BY dst
), r{i + 1} AS (
  SELECT nodes.host,
         (15 * (CAST({PR_SCALE} AS BIGINT) // n)) // 100
           + (85 * COALESCE(inc, CAST(0 AS BIGINT))) // 100 AS rank_e12
  FROM nodes CROSS JOIN nn LEFT JOIN inc{i} ON inc{i}.dst = nodes.host
)""")
    return pre + "".join(its) + f"\nSELECT host, rank_e12 FROM r{PR_ITERS}"


DOMAIN_CAP = 16  # max urls kept per host (fixture-sized; prod: ~1e5)


def host_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping — the per-host quota sampler every webtext corpus
    build runs (C4/RefinedWeb-style: no single domain may dominate the
    training mix). Keeps at most DOMAIN_CAP urls per host, selected
    deterministically by md5(url) so re-runs, retries, and the oracle
    all agree on WHICH urls survive; returns the per-host census with a
    fingerprint-sum over the kept urls (the driver check therefore pins
    the exact selection, not just the counts).

    Scale shape: a row_number window partitioned by host looks like a
    skew trap (the hot host — fixture 'skew.example', an entire
    source; prod: millions of pages — lands in one window task), but
    Spark >= 3.5 plans a rank-limit filter as WindowGroupLimit with a
    PARTIAL pass before the exchange: every map task locally keeps only
    its top-CAP rows per host, so at most CAP * n_input_partitions rows
    per host ever shuffle, and the final per-host task ranks a bounded
    set. tests/test_plans.py pins that shape (a manual two-phase
    salted window would add a second exchange for nothing).
    The host totals come from a separate map-side-combining hash
    aggregate, not from the window, so dropped rows never pay the
    ranking path."""
    from ..sources.readers import pages_df

    pages = pages_df(
        spark, sf_dir, n_partitions=spark.sparkContext.defaultParallelism
    )
    host = F.regexp_extract("url", r"^http://([^/]+)/", 1)
    # distinct BEFORE ranking: recrawls are the same frontier entry
    u = pages.select(host.alias("host"), "url").distinct()

    w = Window.partitionBy("host").orderBy(F.md5(F.col("url")))
    kept = (
        u.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= DOMAIN_CAP)
    )
    totals = u.groupBy("host").agg(F.count(F.lit(1)).alias("n_urls"))
    census = kept.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(_fp48(F.col("url"))).alias("kept_fp_sum"),
    )
    return (
        totals.join(F.broadcast(census), "host")
        .select(
            "host",
            "n_urls",
            "n_kept",
            "kept_fp_sum",
            (F.col("n_urls") > DOMAIN_CAP).alias("capped"),
        )
    )


def _domain_cap_sql() -> str:
    from ..sources.synth import HOT_HOST_SOURCE, N_HOSTS

    return f"""
WITH urls AS (
  SELECT CASE WHEN source = '{HOT_HOST_SOURCE}' THEN 'skew.example'
              ELSE 'host' || CAST(doc_id % {N_HOSTS} AS VARCHAR) || '.example'
         END AS host,
         'http://' ||
         CASE WHEN source = '{HOT_HOST_SOURCE}' THEN 'skew.example'
              ELSE 'host' || CAST(doc_id % {N_HOSTS} AS VARCHAR) || '.example'
         END || '/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), ranked AS (
  SELECT host, url,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY md5(url)) AS rn
  FROM urls
)
SELECT host,
       COUNT(*) AS n_urls,
       CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP}
                THEN ('0x' || substr(md5(url), 1, 12))::BIGINT END) AS BIGINT)
         AS kept_fp_sum,
       COUNT(*) > {DOMAIN_CAP} AS capped
FROM ranked
GROUP BY host
"""


# Clustering-coefficient quantization: per-mille, truncating division.
TRI_CC_SCALE = 1000


def host_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient over the host
    link graph — the graph-structure signal next to ``host_pagerank``'s
    centrality: hosts whose neighborhoods interlink (high clustering)
    are communities/mirror farms; hosts with many neighbors but no
    closed wedges are hubs/aggregators. Emits one row per host:
    undirected degree, triangle count, and the local clustering
    coefficient ``2·T / (deg·(deg−1))`` in exact per-mille units.

    Scale shape — the canonical degree-ordered wedge join (the
    MapReduce triangle algorithm of Suri & Vassilvitskii 2011 /
    Cohen 2009): orient every undirected edge from the
    (degree, host)-SMALLER endpoint to the larger, so each triangle is
    counted exactly once and every wedge is generated at its
    lowest-degree apex. That bounds wedge generation at O(m^1.5)
    total and — the skew story — the planted hot host
    ('skew.example', the highest-degree node) generates ZERO wedges:
    all its edges point INTO it, so the one node that would explode a
    naive neighbor self-join contributes nothing to the join fan-out.
    Physically: one (u) equi-self-join builds wedges, one (v,w)
    equi-join closes them, one union+aggregate censuses per-host
    counts — no cartesian product, no windows, no driver actions.

    Determinism: counts are BIGINT; the coefficient is truncating
    integer division (Spark ``DIV`` == DuckDB ``//``) at per-mille
    scale, so both engines produce identical integers."""
    from ..sources.synth import HOT_HOST_SOURCE, N_HOSTS

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    src = F.when(
        F.col("source") == HOT_HOST_SOURCE, F.lit("skew.example")
    ).otherwise(
        F.concat(
            F.lit("host"), (F.col("doc_id") % N_HOSTS).cast("string"),
            F.lit(".example"),
        )
    )
    dst = F.concat(
        F.lit("host"),
        ((F.col("doc_id") * PR_EDGE_MULT + PR_EDGE_ADD) % N_HOSTS).cast("string"),
        F.lit(".example"),
    )
    und = (
        docs.select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("host"))
        .unionAll(und.select(F.col("b").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # Orient a->b iff (deg_a, a) < (deg_b, b): each triangle appears
    # exactly once as wedge (u->v, u->w) + closing edge (v->w).
    da = deg.select(F.col("host").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("host").alias("b"), F.col("degree").alias("degb"))
    lt = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    directed = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lt, F.col("degb")).otherwise(F.col("dega")).alias("degv"),
        )
    )
    e1 = directed.select("u", "v", "degv")
    e2 = directed.select(
        F.col("u").alias("u2"), F.col("v").alias("w"), F.col("degv").alias("degw")
    )
    wedges = (
        e1.join(e2, F.col("u") == F.col("u2"))
        .filter(
            (F.col("degv") < F.col("degw"))
            | ((F.col("degv") == F.col("degw")) & (F.col("v") < F.col("w")))
        )
        .select("u", "v", "w")
    )
    closing = directed.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tris = wedges.join(closing, ["v", "w"])
    per_host = (
        tris.select(F.col("u").alias("host"))
        .unionAll(tris.select(F.col("v").alias("host")))
        .unionAll(tris.select(F.col("w").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_host, "host", "left")
        .select(
            "host",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    f"(CAST(2 * {TRI_CC_SCALE} AS BIGINT)"
                    " * coalesce(n_triangles, 0))"
                    " DIV (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("clustering_permille"),
        )
    )


def _triangle_sql() -> str:
    from ..sources.synth import HOT_HOST_SOURCE, N_HOSTS

    return f"""
WITH e0 AS (
  SELECT CASE WHEN source = '{HOT_HOST_SOURCE}' THEN 'skew.example'
              ELSE 'host' || CAST(doc_id % {N_HOSTS} AS VARCHAR) || '.example'
         END AS s,
         'host' || CAST((doc_id * {PR_EDGE_MULT} + {PR_EDGE_ADD}) % {N_HOSTS} AS VARCHAR)
           || '.example' AS d
  FROM documents
), und AS (
  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM e0
  WHERE s <> d
), deg AS (
  SELECT host, COUNT(*) AS degree FROM (
    SELECT a AS host FROM und UNION ALL SELECT b FROM und
  ) GROUP BY host
), directed AS (
  SELECT CASE WHEN (da.degree, a) < (db.degree, b) THEN a ELSE b END AS u,
         CASE WHEN (da.degree, a) < (db.degree, b) THEN b ELSE a END AS v,
         CASE WHEN (da.degree, a) < (db.degree, b)
              THEN db.degree ELSE da.degree END AS degv
  FROM und
  JOIN deg da ON da.host = und.a
  JOIN deg db ON db.host = und.b
), tris AS (
  SELECT e1.u, e1.v, e2.v AS w
  FROM directed e1
  JOIN directed e2 ON e1.u = e2.u
    AND (e1.degv, e1.v) < (e2.degv, e2.v)
  JOIN directed c ON c.u = e1.v AND c.v = e2.v
), per_host AS (
  SELECT host, COUNT(*) AS n_triangles FROM (
    SELECT u AS host FROM tris
    UNION ALL SELECT v FROM tris
    UNION ALL SELECT w FROM tris
  ) GROUP BY host
)
SELECT deg.host AS host, CAST(degree AS BIGINT) AS degree,
       CAST(COALESCE(n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN degree >= 2
            THEN (2 * {TRI_CC_SCALE} * COALESCE(n_triangles, 0))
                 // (degree * (degree - 1))
            ELSE 0 END AS BIGINT) AS clustering_permille
FROM deg LEFT JOIN per_host ON per_host.host = deg.host
"""



LP_ITERS = 3


def host_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the host graph via synchronous label
    propagation (Raghavan et al. 2007): every host starts as its own
    label; each round it adopts the label with the largest total edge
    weight among its undirected neighbors, ties broken by the smaller
    label string — a fully deterministic variant, so the unrolled-CTE
    oracle reproduces it exactly. The crawl-side use is grouping
    mirror/mutual-link host clusters before domain capping.

    Scale shape (same discipline as host_pagerank): per round, one
    equi-join of the edge list with the label table on the neighbor
    key and one (host, label) hash aggregate, then a row_number over
    (host) to pick the argmax — labels are one row per host (orders of
    magnitude smaller than edges), no driver actions, no all-pairs.
    Self-loops are dropped (LPA adopts NEIGHBOR labels); hosts whose
    edges were all self-loops keep their previous label through the
    left-join coalesce."""
    from ..sources.synth import HOT_HOST_SOURCE, N_HOSTS

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    src = F.when(
        F.col("source") == HOT_HOST_SOURCE, F.lit("skew.example")
    ).otherwise(
        F.concat(
            F.lit("host"), (F.col("doc_id") % N_HOSTS).cast("string"),
            F.lit(".example"),
        )
    )
    dst = F.concat(
        F.lit("host"),
        ((F.col("doc_id") * PR_EDGE_MULT + PR_EDGE_ADD) % N_HOSTS).cast("string"),
        F.lit(".example"),
    )
    directed = docs.select(src.alias("src"), dst.alias("dst"))
    und = (
        directed.union(
            directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = und.select(F.col("src").alias("host")).distinct()
    labels = nodes.select("host", F.col("host").alias("label"))
    w_arg = Window.partitionBy("n_host").orderBy(
        F.desc("wsum"), F.asc("label")
    )
    for _ in range(LP_ITERS):
        nb = und.join(labels, und.dst == labels.host).select(
            F.col("src").alias("n_host"), "label", "w"
        )
        upd = (
            nb.groupBy("n_host", "label")
            .agg(F.sum("w").alias("wsum"))
            .withColumn("rn", F.row_number().over(w_arg))
            .filter(F.col("rn") == 1)
            .select("n_host", F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(upd, labels.host == upd.n_host, "left")
            .select(
                "host", F.coalesce("new_label", "label").alias("label")
            )
        )
    return labels.select("host", F.col("label").alias("community"))


def _label_prop_sql() -> str:
    from ..sources.synth import HOT_HOST_SOURCE, N_HOSTS

    pre = f"""
WITH e0 AS (
  SELECT CASE WHEN source = '{HOT_HOST_SOURCE}' THEN 'skew.example'
              ELSE 'host' || CAST(doc_id % {N_HOSTS} AS VARCHAR) || '.example'
         END AS src,
         'host' || CAST((doc_id * {PR_EDGE_MULT} + {PR_EDGE_ADD}) % {N_HOSTS} AS VARCHAR)
           || '.example' AS dst
  FROM documents
), und AS (
  SELECT src, dst, COUNT(*) AS w FROM (
    SELECT src, dst FROM e0
    UNION ALL
    SELECT dst AS src, src AS dst FROM e0
  ) WHERE src <> dst GROUP BY 1, 2
), nodes AS (
  SELECT DISTINCT src AS host FROM und
), l0 AS (
  SELECT host, host AS label FROM nodes
)"""
    its = []
    for i in range(LP_ITERS):
        its.append(f""", upd{i} AS (
  SELECT src AS n_host, label AS new_label FROM (
    SELECT und.src, l{i}.label, SUM(w) AS wsum,
           row_number() OVER (PARTITION BY und.src
                              ORDER BY SUM(w) DESC, l{i}.label) AS rn
    FROM und JOIN l{i} ON und.dst = l{i}.host
    GROUP BY und.src, l{i}.label
  ) WHERE rn = 1
), l{i + 1} AS (
  SELECT l{i}.host, COALESCE(new_label, label) AS label
  FROM l{i} LEFT JOIN upd{i} ON upd{i}.n_host = l{i}.host
)""")
    return (
        pre
        + "".join(its)
        + f"\nSELECT host, label AS community FROM l{LP_ITERS}\n"
    )


BFS_ROUNDS = 4


def host_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop reachability: BFS hop distance from the planted hot
    host ('skew.example') over the undirected host graph, BFS_ROUNDS
    synchronous frontier expansions — the neighborhood/radius probe a
    crawl planner runs around a seed set. Per round: one equi-join of
    the edge list with the current distance table on the neighbor key
    and one MIN hash aggregate — identical shuffle discipline to
    host_pagerank/label propagation (edges never re-shuffle, distances
    are one row per host, zero driver actions). Hosts not reached
    within BFS_ROUNDS report depth -1 (the unrolled oracle applies the
    same cutoff, so the twin is exact without a fixpoint)."""
    from ..sources.synth import HOT_HOST_SOURCE, N_HOSTS

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    src = F.when(
        F.col("source") == HOT_HOST_SOURCE, F.lit("skew.example")
    ).otherwise(
        F.concat(
            F.lit("host"), (F.col("doc_id") % N_HOSTS).cast("string"),
            F.lit(".example"),
        )
    )
    dst = F.concat(
        F.lit("host"),
        ((F.col("doc_id") * PR_EDGE_MULT + PR_EDGE_ADD) % N_HOSTS).cast("string"),
        F.lit(".example"),
    )
    directed = docs.select(src.alias("src"), dst.alias("dst"))
    und = (
        directed.union(
            directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = und.select(F.col("src").alias("host")).distinct()
    dist = nodes.select(
        "host",
        F.when(F.col("host") == "skew.example", F.lit(0).cast("bigint")).alias("d"),
    )
    for _ in range(BFS_ROUNDS):
        reach = (
            und.join(dist, und.dst == dist.host)
            .filter(F.col("d").isNotNull())
            .groupBy(F.col("src").alias("n_host"))
            .agg((F.min("d") + 1).alias("nd"))
        )
        dist = (
            dist.join(reach, dist.host == reach.n_host, "left")
            .select("host", F.least("d", "nd").alias("d"))
        )
    return dist.select(
        "host", F.coalesce("d", F.lit(-1).cast("bigint")).alias("depth")
    )


def _bfs_depth_sql() -> str:
    from ..sources.synth import HOT_HOST_SOURCE, N_HOSTS

    pre = f"""
WITH e0 AS (
  SELECT CASE WHEN source = '{HOT_HOST_SOURCE}' THEN 'skew.example'
              ELSE 'host' || CAST(doc_id % {N_HOSTS} AS VARCHAR) || '.example'
         END AS src,
         'host' || CAST((doc_id * {PR_EDGE_MULT} + {PR_EDGE_ADD}) % {N_HOSTS} AS VARCHAR)
           || '.example' AS dst
  FROM documents
), und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e0
    UNION ALL
    SELECT dst AS src, src AS dst FROM e0
  ) WHERE src <> dst
), nodes AS (
  SELECT DISTINCT src AS host FROM und
), d0 AS (
  SELECT host,
         CASE WHEN host = 'skew.example' THEN CAST(0 AS BIGINT) END AS d
  FROM nodes
)"""
    its = []
    for i in range(BFS_ROUNDS):
        its.append(f""", r{i} AS (
  SELECT und.src AS n_host, MIN(d) + 1 AS nd
  FROM und JOIN d{i} ON und.dst = d{i}.host
  WHERE d IS NOT NULL GROUP BY und.src
), d{i + 1} AS (
  SELECT d{i}.host, least(d, nd) AS d
  FROM d{i} LEFT JOIN r{i} ON r{i}.n_host = d{i}.host
)""")
    return (
        pre
        + "".join(its)
        + f"\nSELECT host, COALESCE(d, -1) AS depth FROM d{BFS_ROUNDS}\n"
    )


CRAWL_BUDGET = 100_000  # fetch slots to allocate across hosts per cycle


def crawl_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier budget allocation: split CRAWL_BUDGET fetch slots
    across hosts proportionally to their PageRank, using the
    largest-remainder (Hamilton) method so the quotas are integers
    that sum EXACTLY to the budget — the scheduler contract a frontier
    needs (floats under- or over-commit fetchers). Composes the
    iterative host_pagerank operator; every step is BIGINT arithmetic
    (base = rank*B div R, remainder ranking for the leftover slots,
    ties by host) so the unrolled oracle reproduces the exact quotas.

    Scale shape: the allocation runs over the RANK table (one row per
    host — orders of magnitude smaller than pages/edges), but k (the
    leftover slots) is data-dependent, so the largest-remainder pick is
    a GLOBAL rank that a plain ``Window.orderBy`` would execute as a
    single-partition sort at host cardinality. Instead the global
    row_number is computed distributed, the standard way: range-
    repartition on the sort key (rem DESC, host ASC) so partitions are
    globally ordered, rank WITHIN each partition (bounded ~n/parts
    rows), and add per-partition row-count offsets — the offset table
    is one row per PARTITION (cluster-sized, not data-sized), so its
    cumulative window is O(parts). No stage touches more than
    n/parts host rows; quotas broadcast back to the fetch planner.
    The result is identical to the single-window form for any range
    boundary placement because (rem, host) is a unique total order."""
    ranks = host_pagerank(spark, sf_dir)
    tot = ranks.agg(F.sum("rank_e12").alias("r_tot"))
    a = ranks.crossJoin(F.broadcast(tot)).select(
        "host",
        "rank_e12",
        F.expr(f"rank_e12 * {CRAWL_BUDGET}L div r_tot").alias("base_quota"),
        F.expr(f"(rank_e12 * {CRAWL_BUDGET}L) % r_tot").alias("rem"),
    )
    k_tbl = a.agg(
        (F.lit(CRAWL_BUDGET).cast("bigint") - F.sum("base_quota")).alias("k")
    )
    nparts = spark.sparkContext.defaultParallelism
    parts = a.repartitionByRange(
        nparts, F.desc("rem"), F.asc("host")
    ).withColumn("pid", F.spark_partition_id())
    # Both the offsets branch and the rank branch consume `parts`, and
    # range-boundary sampling is seeded per RDD id — two independent
    # materializations could disagree on pid assignment, desyncing the
    # offsets from the ranks. An eager local checkpoint pins ONE
    # materialization (tiny: the per-host rank table, hosts << pages) so
    # pids are consistent across branches regardless of exchange-reuse
    # behavior. Unlike persist() it registers nothing in the session's
    # cache; its blocks are freed once the returned DataFrame is dropped.
    parts = parts.localCheckpoint()
    # one row per range partition; the cumulative window runs over at
    # most `nparts` rows, never over host cardinality
    offsets = (
        parts.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    Window.orderBy("pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("pid", "offset")
    )
    w_local = Window.partitionBy("pid").orderBy(F.desc("rem"), F.asc("host"))
    return (
        parts.withColumn("rn_local", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(k_tbl))
        .select(
            "host",
            "rank_e12",
            "base_quota",
            (
                F.col("base_quota")
                + (F.col("rn_local") + F.col("offset") <= F.col("k")).cast(
                    "bigint"
                )
            ).alias("quota"),
        )
    )


def _crawl_budget_sql() -> str:
    b = CRAWL_BUDGET
    return f"""
WITH pr AS ({_pagerank_sql()}),
tot AS (
  -- CAST: DuckDB SUM(BIGINT) is HUGEINT; keep the div/mod in BIGINT
  SELECT CAST(SUM(rank_e12) AS BIGINT) AS r_tot FROM pr
), a AS (
  SELECT host, rank_e12,
         CAST(rank_e12 * {b} // r_tot AS BIGINT) AS base_quota,
         CAST((rank_e12 * {b}) % r_tot AS BIGINT) AS rem
  FROM pr CROSS JOIN tot
), k AS (
  SELECT CAST({b} - SUM(base_quota) AS BIGINT) AS k FROM a
), r AS (
  SELECT a.*, row_number() OVER (ORDER BY rem DESC, host) AS rn FROM a
)
SELECT host, rank_e12, base_quota,
       CAST(base_quota + CASE WHEN rn <= k THEN 1 ELSE 0 END AS BIGINT) AS quota
FROM r CROSS JOIN k
"""




# -- module registry (merged into plans.queries.SQL_CHECKED) ----------------
_REGISTRY = {
    "host_skew_census": (host_skew_census, _host_census_sql()),
    "url_canonical_dedup": (url_canonical_dedup, _url_canonical_sql()),
    "host_pagerank": (host_pagerank, _pagerank_sql()),
    "host_domain_cap": (host_domain_cap, _domain_cap_sql()),
    "host_triangle_census": (host_triangle_census, _triangle_sql()),
    "host_label_propagation": (host_label_propagation, _label_prop_sql()),
    "host_bfs_depth": (host_bfs_depth, _bfs_depth_sql()),
    "crawl_budget_allocation": (crawl_budget_allocation, _crawl_budget_sql()),
}
