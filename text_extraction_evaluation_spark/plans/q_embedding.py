"""Embedding similarity / ANN + specialty joins (as-of, banded
range) + remaining TPC-H shapes + lang-id queries.

Split out of plans/queries.py (round 3)."""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import (
    MINHASH_BANDS,
    MINHASH_ROWS_PER_BAND,
    MINHASH_SEEDS,
    SIMHASH_BITS,
    md5_int,
    minhash_signature,
    tokens_col,
    word_shingles,
)
from ..algo.stoplists import _SYNTH_STOPWORDS
from .common import (  # noqa: F401 — shared helpers + SQL fragments
    STOPWORDS_SORTED,
    _STOP_SQL,
    _dec,
    _docs_par,
    _t,
)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 query vectors: the
    correctness baseline for ANN. Norms precomputed per row; query side
    broadcast; dot product via zip_with+aggregate (JVM-side, no UDF)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sq = lambda v: F.aggregate(  # noqa: E731
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    base = emb.withColumn("nrm", F.sqrt(sq(F.col("v"))))
    q = base.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    ).filter(F.col("query_id") < 10)
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", cos)
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 5)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "nn_rank",
            F.round("cos", 4).alias("cos_sim"),
        )
    )


_ANN_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10
), s AS (
  SELECT query_id, n.vec_id AS neighbor_id,
         list_dot_product(qv, v) / (qn * nrm) AS cos
  FROM q JOIN n ON n.vec_id <> query_id
), r AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS nn_rank
  FROM s
)
SELECT query_id, neighbor_id, nn_rank, ROUND(cos, 4) AS cos_sim
FROM r WHERE nn_rank <= 5
"""


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding L2-norm statistics.

    Norms are pinned to exact scale-6 BIGINT units per row before
    aggregation — an AVG over raw doubles accumulates in
    engine/partition-order-specific order (the q19 failure class), so
    the average leaves as a round-6 quotient of the exact integer sum."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    nrm = F.sqrt(
        F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return (
        emb.withColumn("nrm_e6", F.round(nrm * 1000000).cast("long"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("nrm_e6").alias("_sum_e6"),
            F.min("nrm_e6").alias("_min_e6"),
            F.max("nrm_e6").alias("_max_e6"),
        )
        .select(
            "label",
            "n_vecs",
            F.round(
                F.col("_sum_e6") / (F.col("n_vecs") * F.lit(1000000.0)), 6
            ).alias("avg_norm"),
            F.round(F.col("_min_e6") / F.lit(1000000.0), 6).alias("min_norm"),
            F.round(F.col("_max_e6") / F.lit(1000000.0), 6).alias("max_norm"),
        )
    )


_EMB_NORMS_SQL = """
WITH n AS (
  SELECT label,
         CAST(ROUND(sqrt(list_dot_product(embedding::DOUBLE[],
              embedding::DOUBLE[])) * 1000000) AS BIGINT) AS nrm_e6
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vecs,
       ROUND(CAST(SUM(nrm_e6) AS BIGINT) / (COUNT(*) * 1000000.0), 6)
         AS avg_norm,
       ROUND(MIN(nrm_e6) / 1000000.0, 6) AS min_norm,
       ROUND(MAX(nrm_e6) / 1000000.0, 6) AS max_norm
FROM n GROUP BY label
"""


# Sign-LSH bucket sizing rule, in code (not prose): pick enough bits
# that EXPECTED bucket occupancy n / 2^bits stays <= the target, so
# within-bucket pair work is O(n * target), not O((n/2^bits)^2 * 2^bits)
# growing with the corpus. The fixture corpora hold 500 vectors ->
# sign_lsh_bits(500) == 6; a 10^9-vector corpus would get 27 bits.
EMB_LSH_TARGET_OCCUPANCY = 8


def sign_lsh_bits(n_vectors: int, target: int = EMB_LSH_TARGET_OCCUPANCY) -> int:
    import math

    return max(1, math.ceil(math.log2(max(2.0, n_vectors / target))))


_EMB_COSINE_BITS = sign_lsh_bits(500)
assert _EMB_COSINE_BITS == 6  # frozen for the 500-vector fixtures


def embedding_cosine_pairs(
    emb: DataFrame, bits: int, threshold: float = 0.3
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with sign-LSH blocking.

    Scale path: bucket every vector by the sign pattern of its first
    ``bits`` dimensions (axis-aligned random-projection LSH —
    deterministic so the DuckDB oracle can reproduce it), self-join
    ONLY within buckets (shuffle on the bucket key — never the O(n^2)
    cross join), then verify exact cosine >= threshold on the surviving
    candidates. ``bits`` comes from sign_lsh_bits(corpus size); all
    arithmetic is JVM-side (zip_with/aggregate), no Python UDF.
    """
    emb = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    nrm = F.sqrt(
        F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    bucket = sum(
        F.when(F.element_at("v", i + 1) > 0, F.lit(2 ** (bits - 1 - i))).otherwise(F.lit(0))
        for i in range(bits)
    )
    base = emb.withColumn("nrm", nrm).withColumn("bucket", bucket.cast("int"))
    a = base.select(
        F.col("bucket").alias("b_a"),
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("v_a"),
        F.col("nrm").alias("n_a"),
    )
    b = base.select(
        F.col("bucket").alias("b_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("v_b"),
        F.col("nrm").alias("n_b"),
    )
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        a.join(b, (F.col("b_a") == F.col("b_b")) & (F.col("vec_a") < F.col("vec_b")))
        .withColumn("cos", dot / (F.col("n_a") * F.col("n_b")))
        .filter(F.col("cos") >= threshold)
        .select(
            "vec_a",
            "vec_b",
            F.col("b_a").alias("bucket"),
            F.round("cos", 4).alias("cos_sim"),
        )
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered sign-LSH near-dup query at the fixture's bit count
    (sign_lsh_bits(500) = 6); the DuckDB twin is generated from the
    same constant by _emb_cosine_sql."""
    return embedding_cosine_pairs(
        _t(spark, sf_dir, "embeddings"), bits=_EMB_COSINE_BITS
    )


def _emb_cosine_sql(bits: int = _EMB_COSINE_BITS, threshold: float = 0.3) -> str:
    cases = "\n        + ".join(
        f"CASE WHEN v[{i + 1}] > 0 THEN {1 << (bits - 1 - i)} ELSE 0 END"
        for i in range(bits)
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
         ({cases})::INT AS bucket
  FROM e
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
       ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {threshold}
"""


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest click by the same
    user at-or-before the purchase timestamp.

    Spark has no ASOF JOIN operator; the scalable composition is
    union + window (SURVEY.md §2.4 "custom operators"): tag both
    streams, sort once per user, and carry the last-seen click forward
    with ``last(..., ignorenulls)``. ONE shuffle on user_id, O(n log n)
    per key — never the range-join explosion of
    ``p JOIN c ON c.ts <= p.ts`` + argmax. Clicks are pre-aggregated
    per (user, ts) so ties are deterministic in both engines.
    """
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
        .select("user_id", "ts", "click_value", F.lit(1).alias("is_click"),
                F.lit(None).cast("long").alias("event_id"),
                F.lit(None).cast("double").alias("purchase_value"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("double").alias("click_value"),
        F.lit(0).alias("is_click"), "event_id",
        F.col("value").alias("purchase_value"),
    )
    # at equal ts the click sorts first (is_click desc) => "at-or-before"
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_click").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(purchases).select(
        "*",
        F.last(F.when(F.col("is_click") == 1, F.col("ts")), ignorenulls=True)
        .over(w).alias("click_ts"),
        F.last(F.col("click_value"), ignorenulls=True).over(w).alias("last_click_value"),
    )
    return merged.filter(F.col("is_click") == 0).select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "purchase_value",
        "click_ts",
        F.col("last_click_value").alias("click_value"),
    )


_ASOF_SQL = """
WITH c AS (
  SELECT user_id, ts, MAX(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), p AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts AS purchase_ts, p.value AS purchase_value,
       c.ts AS click_ts, c.click_value
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: clicks within the hour preceding each
    purchase, per user. Spark plans a raw ``c.ts BETWEEN p.ts - 1h AND
    p.ts`` predicate as a nested loop; the scalable form BINS time into
    hour buckets — a 1-hour lookback spans at most 2 bins, so each
    purchase explodes to its 2 candidate bins, candidates come from an
    EQUI-join on (user_id, bin), and the exact interval filter refines.
    Exact: every qualifying click's bin is one of the two probed bins,
    and each (purchase, click) pair matches in exactly one bin (the
    click's own), so no dedup is needed."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    hour_bin = (F.col("ts").cast("timestamp").cast("long") / 3600).cast("long")
    cbin = (F.col("cts").cast("timestamp").cast("long") / 3600).cast("long")
    pb = purchases.withColumn(
        "bin", F.explode(F.array(hour_bin - 1, hour_bin))
    )
    cand = pb.join(clicks.withColumn("bin", cbin), ["user_id", "bin"]).filter(
        (F.col("cts") <= F.col("ts"))
        & (F.col("cts") > F.col("ts") - F.expr("INTERVAL 1 HOUR"))
    )
    agg = cand.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_clicks_1h"))
    return (
        purchases.join(agg, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce("n_clicks_1h", F.lit(0)).alias("n_clicks_1h"),
        )
    )


_RANGE_JOIN_SQL = """
SELECT p.event_id, p.user_id, COUNT(c.cts) AS n_clicks_1h
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.cts <= p.ts AND c.cts > p.ts - INTERVAL 1 HOUR
GROUP BY 1, 2
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbours: the scale path past
    brute-force (`ann_cosine_topk`).

    Coarse quantizer = the first N_CENTROIDS vectors (deterministic so
    the DuckDB oracle reproduces it; production swaps in k-means
    centroids). Every vector is assigned to its nearest centroid
    (broadcast centroid table — map-side, no shuffle of the corpus);
    each query probes its NPROBE nearest cells and scans only those
    inverted lists via an equi-join on cell id. At 100 TB the cell
    count scales with corpus size so list length stays bounded.
    """
    n_centroids = 8
    base = _emb_with_norm(spark, sf_dir)
    cent = base.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    return _ivf_probe(base, cent, nprobe=2, topk=3, n_queries=10)


def _emb_with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sq = F.sqrt(
        F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return emb.withColumn("nrm", sq)


def _ivf_probe(
    base: DataFrame, cent: DataFrame, nprobe: int, topk: int, n_queries: int
) -> DataFrame:
    """Shared IVF probe: centroids (cid, cv, cn) collapse to a one-row
    broadcast array; assignment is a map-side argmin per vector
    (array_sort over per-centroid cosine structs) — no corpus x
    n_centroids row explosion and NO shuffle for the assignment stage.
    (-ccos asc, cid asc) sort order replicates the oracle's
    ROW_NUMBER ... ORDER BY ccos DESC, cid."""
    cent_arr = cent.select(F.struct("cid", "cv", "cn").alias("c")).agg(
        F.collect_list("c").alias("cents")
    )
    scored_cells = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (
                -(
                    F.aggregate(
                        F.zip_with(F.col("v"), c["cv"], lambda x, y: x * y),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    )
                    / (F.col("nrm") * c["cn"])
                )
            ).alias("neg_ccos"),
            c["cid"].alias("cid"),
        ),
    )
    assigned = base.join(F.broadcast(cent_arr)).withColumn(
        "pc", F.slice(F.array_sort(scored_cells), 1, nprobe)
    )
    cells = assigned.select(
        "vec_id", "v", "nrm", F.element_at("pc", 1)["cid"].alias("cell")
    )
    probes = assigned.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.explode(F.transform("pc", lambda s: s["cid"])).alias("cell"),
    )
    qcos = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    ) / (F.col("qn") * F.col("nrm"))
    wtop = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        probes.join(cells, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", qcos)
        .withColumn("nn_rank", F.row_number().over(wtop))
        .filter(F.col("nn_rank") <= topk)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "nn_rank",
                F.round("cos", 4).alias("cos_sim"))
    )


_IVF_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), cent AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 8
), ranked AS (
  SELECT n.vec_id, n.v, n.nrm, cent.cid,
         ROW_NUMBER() OVER (
           PARTITION BY n.vec_id
           ORDER BY list_dot_product(n.v, cent.cv) / (n.nrm * cent.cn) DESC, cent.cid
         ) AS crank
  FROM n CROSS JOIN cent
), cells AS (
  SELECT vec_id, v, nrm, cid AS cell FROM ranked WHERE crank = 1
), probes AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, cid AS cell
  FROM ranked WHERE vec_id < 10 AND crank <= 2
), scored AS (
  SELECT query_id, cells.vec_id AS neighbor_id,
         list_dot_product(qv, cells.v) / (qn * cells.nrm) AS cos
  FROM probes JOIN cells USING (cell)
  WHERE cells.vec_id <> query_id
), top AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS nn_rank
  FROM scored
)
SELECT query_id, neighbor_id, nn_rank, ROUND(cos, 4) AS cos_sim
FROM top WHERE nn_rank <= 3
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (adapted to the fixture's simplified orders
    schema): top-10 unshipped-revenue orders for one market segment.
    customer is broadcast; the lineitem⋈orders equi-join is the one
    wide dependency (co-partition/bucket both on orderkey at 100 TB);
    top-k via a single global sort-limit (Spark's TakeOrderedAndProject
    — never a full sort materialization)."""
    cutoff = "1998-01-01"
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    one = F.lit(1).cast("decimal(3,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(3,2)"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_Q3_SQL = """
SELECT l_orderkey, o_orderdate,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of revenue from PROMO parts in one month.
    part is broadcast (map-side join against the date-pruned lineitem
    scan); conditional aggregation, single-row result."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1998-01-01") & (F.col("l_shipdate") < "1998-03-01")
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    one = F.lit(1).cast("decimal(3,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(3,2)"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                (F.lit(100.0) * F.sum(F.when(F.col("p_type") == "PROMO", rev)).cast("double"))
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


_Q14_SQL = """
SELECT ROUND(
         100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE),
         6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-03-01'
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation where the supplier and the
    customer share a nation, one region, one order-date year. The
    6-table join: lineitem⋈orders is the single wide dependency
    (co-partition on orderkey at 100 TB — see tests/test_bucketing);
    customer/supplier/nation/region all broadcast; Catalyst pushes the
    region and date filters below the joins."""
    cutoff_lo, cutoff_hi = "1997-01-01", "1998-01-01"
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
        )
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    one = F.lit(1).cast("decimal(3,2)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(3,2)"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(
            F.broadcast(sup),
            (F.col("l_suppkey") == sup.s_suppkey)
            & (F.col("c_nationkey") == sup.s_nationkey),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


_Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping combinations in
    one pass (partial-agg friendly; complements the rollup query).

    Prices are pinned to exact scale-4 BIGINT units per row before the
    cube so the average is a quotient of exact integers (AVG over raw
    doubles is accumulation-order-dependent — the q19 failure class)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderstatus",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 10000).cast("long").alias("tp_e4"),
        )
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("tp_e4").alias("_tp_e4"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "n_orders",
            F.round(
                F.col("_tp_e4") / (F.col("n_orders") * F.lit(10000.0)), 4
            ).alias("avg_totalprice"),
        )
    )


_CUBE_SQL = """
WITH t AS (
  SELECT o_orderstatus, o_orderpriority,
         CAST(ROUND(o_totalprice * 10000) AS BIGINT) AS tp_e4
  FROM orders
)
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       ROUND(CAST(SUM(tp_e4) AS BIGINT) / (COUNT(*) * 10000.0), 4)
         AS avg_totalprice
FROM t
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def lang_id_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID over documents (Arrow kernel, broadcast-frozen
    profiles). SQL-checkable because the trigram profiles are frozen
    constants: the DuckDB twin replays the same contains-count argmax."""
    from ..operators.textstats import lang_id

    return lang_id(_docs_par(spark, sf_dir))


def _lang_id_sql() -> str:
    """DuckDB twin of detect_lang: per-language profile-hit counts over
    the lowercased 2000-char prefix, argmax with ties to the earlier
    language code (strict-improvement scan order = sorted lang codes)."""
    from ..operators.textstats import _PROFILES

    hit_exprs = []
    for lang in sorted(_PROFILES):
        grams = _PROFILES[lang]
        terms = " + ".join(
            "CASE WHEN contains(sample, '{}') THEN 1 ELSE 0 END".format(
                g.replace("'", "''")
            )
            for g in grams
        )
        hit_exprs.append(f"({terms}) AS h_{lang}, {len(grams)} AS n_{lang}")
    langs = sorted(_PROFILES)
    best = "greatest({})".format(
        ", ".join(f"h_{code} / CAST(n_{code} AS DOUBLE)" for code in langs)
    )
    detect_chain = " ".join(
        f"WHEN h_{code} / CAST(n_{code} AS DOUBLE) = best THEN '{code}'"
        for code in langs
    )
    return f"""
WITH s AS (
  SELECT doc_id, lang, lower(substr(coalesce(text, ''), 1, 2000)) AS sample
  FROM documents
), h AS (
  SELECT doc_id, lang, {', '.join(hit_exprs)} FROM s
), b AS (
  SELECT *, {best} AS best FROM h
)
SELECT doc_id, lang,
       CASE WHEN best = 0 THEN 'und' {detect_chain} ELSE 'und' END AS detected_lang,
       CASE WHEN best = 0 THEN 0.0 ELSE best END AS lang_score
FROM b
"""


# Per-language sampling rates (percent) for the stratified sampler —
# the "downsample the over-represented language" knob of a training-data
# mix. Frozen constants shared with the SQL twin.
_SAMPLE_RATES: dict[str, int] = {"en": 40, "de": 60, "fr": 60, "es": 80, "zh": 100}


def doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum (language) sampling via the engine-
    portable hash: keep a doc when md5_int(doc_id) % 100 < rate[lang].
    Map-side only — no shuffle, no RNG, reproducible across runs and
    engines; the 100 TB shape for building a training mix (each
    executor decides membership locally from the key hash)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    h = md5_int(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))) % 100
    rate = reduce(
        lambda acc, kv: acc.when(F.col("lang") == kv[0], F.lit(kv[1])),
        _SAMPLE_RATES.items(),
        F.when(F.lit(False), F.lit(0)),
    ).otherwise(F.lit(0))
    return (
        docs.withColumn("bucket_pct", h.cast("int"))
        .filter(F.col("bucket_pct") < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
        )
    )


def _sample_sql() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN {rate}" for lang, rate in _SAMPLE_RATES.items()
    )
    return f"""
SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
FROM (
  SELECT lang, n_chars,
         ('0x' || substr(md5('sample:' || doc_id), 1, 15))::BIGINT % 100 AS bucket_pct
  FROM documents
)
WHERE bucket_pct < (CASE lang {cases} ELSE 0 END)
GROUP BY lang
"""


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality EVALUATION: recall@3 of the IVF probe against the
    brute-force cosine ground truth, per query, in ONE plan — the same
    evaluate-the-approximation discipline the extraction layer applies
    to extractors, turned on the ANN index itself. This is the number
    that decides nprobe/cell-count tuning before a 10^9-vector
    deployment.

    Scale shape: composes the two registered plans (broadcast query
    sides, cell-bounded probe); the comparison join is on
    (query_id, neighbor_id) over topk-bounded rows — tiny at any
    corpus size."""
    brute = (
        ann_cosine_topk(spark, sf_dir)
        .filter(F.col("nn_rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    ivf = ann_ivf_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        ivf.join(brute, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qids = ivf.select("query_id").distinct()
    n_hits = F.coalesce("n_hits", F.lit(0)).cast("bigint")
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        n_hits.alias("n_hits"),
        F.round(n_hits / 3.0, 6).alias("recall_at_3"),
    )


def _recall_sql() -> str:
    return f"""
WITH brute AS (
  SELECT query_id, neighbor_id FROM ({_ANN_SQL}) WHERE nn_rank <= 3
), ivf AS (
  SELECT query_id, neighbor_id FROM ({_IVF_SQL})
), hits AS (
  SELECT query_id, COUNT(*) AS n_hits
  FROM ivf JOIN brute USING (query_id, neighbor_id) GROUP BY 1
)
SELECT q.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(COALESCE(h.n_hits, 0) / 3.0, 6) AS recall_at_3
FROM (SELECT DISTINCT query_id FROM ivf) q LEFT JOIN hits h USING (query_id)
"""


WSAMPLE_K = 50


def doc_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES, 2006), proportional to document length: each doc gets
    priority ``-ln(u)/w`` from a deterministic md5-derived uniform
    ``u`` and weight ``w = n_chars``; the global k smallest priorities
    ARE a weighted sample without replacement. The mix-building
    primitive for "sample 1% of the crawl, long docs proportionally
    more often" that stays reproducible across runs and engines.

    Scale shape: priorities are computed map-side (no shuffle, no
    RNG state); selection is ``orderBy().limit(k)`` which Spark
    executes as TakeOrderedAndProject — per-partition top-k then a
    driver merge of k rows per partition, never a global sort. The
    rank window runs over the k selected rows only.

    Cross-engine determinism: u = (md5_48bit + 1) / 2^48 is an exact
    dyadic rational (< 2^53, exact in double); ln is quantized to
    integer nano-nats before the division by the weight, so the
    priority doubles are bit-identical in both engines."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsample:"), F.col("doc_id").cast("string"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h + 1).cast("double") / F.lit(float(1 << 48))
    lnq = F.round(F.log(u) * 1e9).cast("bigint")
    w_chars = F.greatest("n_chars", F.lit(1)).cast("bigint")
    pri = (-lnq).cast("double") / w_chars.cast("double")
    top = (
        docs.withColumn("w_chars", w_chars)
        .withColumn("priority", pri)
        .orderBy(F.asc("priority"), F.asc("doc_id"))
        .limit(WSAMPLE_K)
    )
    rw = Window.orderBy(F.asc("priority"), F.asc("doc_id"))
    return top.select(
        "doc_id",
        "lang",
        "w_chars",
        F.round("priority", 6).alias("priority"),
        F.row_number().over(rw).cast("int").alias("rank"),
    )


_WSAMPLE_SQL = f"""
WITH h AS (
  SELECT doc_id, lang, GREATEST(n_chars, 1) AS w_chars,
         ('0x' || substr(md5('wsample:' || doc_id), 1, 12))::BIGINT AS hv
  FROM documents
), k AS (
  SELECT doc_id, lang, w_chars,
         CAST(ROUND(ln((hv + 1) / {float(1 << 48)}) * 1e9) AS BIGINT) AS lnq
  FROM h
), p AS (
  SELECT doc_id, lang, CAST(w_chars AS BIGINT) AS w_chars,
         CAST(-lnq AS DOUBLE) / CAST(w_chars AS DOUBLE) AS priority
  FROM k
)
SELECT doc_id, lang, w_chars, ROUND(priority, 6) AS priority,
       CAST(ROW_NUMBER() OVER (ORDER BY priority, doc_id) AS INTEGER) AS rank
FROM (SELECT * FROM p ORDER BY priority, doc_id LIMIT {WSAMPLE_K})
"""


def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic quality gate over the corpus, pure JVM
    higher-order functions: minimum token count, bounded mean word
    length, stopword-ratio floor, terminal-punctuation sentence ratio.
    Emits the per-(lang, keep) census plus quantized mean scores — the
    shape a 100 TB run materializes to audit what a filter drops."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = F.split(F.trim("text"), r"\s+")
    n_tok = F.size(toks)
    mean_len = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda a, w: a + F.length(w)
    ).cast("double") / n_tok
    stop_ratio = (
        F.size(F.filter(toks, lambda w: F.lower(w).isin(*STOPWORDS_SORTED))).cast(
            "double"
        )
        / n_tok
    )
    # repetition signal: distinct-token fraction (low = boilerplate/spam
    # loops). Reported for auditing, not part of the keep rule — the
    # fixture's closed vocabulary would make any threshold length-biased.
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    keep = (
        (n_tok >= 50)
        & (mean_len >= 3.0)
        & (mean_len <= 10.0)
        & (stop_ratio >= 0.05)
    )
    # per-doc ratios pinned to exact scale-6 BIGINT units before the
    # census: AVG over raw doubles is accumulation-order-dependent (the
    # q19 failure class) — averages leave as quotients of exact sums
    return (
        docs.select(
            "lang",
            keep.alias("keep"),
            n_tok.alias("n_tok"),
            F.round(mean_len * 1000000).cast("long").alias("ml_e6"),
            F.round(stop_ratio * 1000000).cast("long").alias("sr_e6"),
            F.round(uniq_ratio * 1000000).cast("long").alias("ur_e6"),
        )
        .groupBy("lang", "keep")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("ml_e6").alias("_ml"),
            F.sum("sr_e6").alias("_sr"),
            F.sum("ur_e6").alias("_ur"),
        )
        .select(
            "lang",
            "keep",
            "n_docs",
            "total_tokens",
            F.round(
                F.col("_ml") / (F.col("n_docs") * F.lit(1000000.0)), 6
            ).alias("avg_mean_len"),
            F.round(
                F.col("_sr") / (F.col("n_docs") * F.lit(1000000.0)), 6
            ).alias("avg_stop_ratio"),
            F.round(
                F.col("_ur") / (F.col("n_docs") * F.lit(1000000.0)), 6
            ).alias("avg_uniq_ratio"),
        )
    )


_QUALITY_FILTER_SQL = f"""
WITH t AS (
  SELECT lang, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
), f AS (
  SELECT lang,
         len(toks) AS n_tok,
         CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks) AS mean_len,
         CAST(len(list_filter(toks, w -> list_contains([{_STOP_SQL}], lower(w)))) AS DOUBLE) / len(toks) AS stop_ratio,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio
  FROM t
)
SELECT lang,
       (n_tok >= 50 AND mean_len >= 3.0 AND mean_len <= 10.0 AND stop_ratio >= 0.05) AS keep,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(CAST(ROUND(mean_len * 1000000) AS BIGINT)) AS BIGINT)
             / (COUNT(*) * 1000000.0), 6) AS avg_mean_len,
       ROUND(CAST(SUM(CAST(ROUND(stop_ratio * 1000000) AS BIGINT)) AS BIGINT)
             / (COUNT(*) * 1000000.0), 6) AS avg_stop_ratio,
       ROUND(CAST(SUM(CAST(ROUND(uniq_ratio * 1000000) AS BIGINT)) AS BIGINT)
             / (COUNT(*) * 1000000.0), 6) AS avg_uniq_ratio
FROM f GROUP BY 1, 2
"""




# -- module registry (merged into plans.queries.SQL_CHECKED) ----------------
# ---------------------------------------------------------------------------
# Hard-negative mining: embedding-space confusion census
# ---------------------------------------------------------------------------


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining census: for every vector, its single most
    similar OTHER-labeled vector (the 'hardest negative' contrastive
    training wants), rolled up into a label-confusion matrix —
    (label, hardest-negative label, count, similarity stats). High
    avg_hard_cos between two labels = the embedding space confuses
    them; the matrix prioritizes which class pairs need negatives.

    Candidate generation here is the brute all-different-label join
    (the stated exact baseline, like ann_cosine_topk); the 100-TB
    path swaps it for the IVF probe (ann_ivf_topk's _ivf_probe) so
    each vector only scores against its probed cells — the argmax and
    census stages are unchanged. Per-vector argmax is a
    (vec_id)-window row_number on (cos DESC, neighbor) — cos is
    pinned to exact scale-4 BIGINT units BEFORE ranking so the winner
    is tie-broken on neighbor_id, not on sub-ulp float noise, and the
    census average is a quotient of exact integer sums (an AVG over
    round-4 doubles accumulates in engine-specific order and flipped
    the round-6 boundary in 2/90 groups — caught by the round-4
    bitwise float gate)."""
    emb = (
        _t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        # the fixture is one parquet file = one input split; the pair
        # scoring is CPU-bound per stream row, so spread the STREAM
        # side across all cores (the broadcast side stays whole)
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    sq = F.aggregate(
        F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    base = emb.withColumn("nrm", F.sqrt(sq))
    other = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("nn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("nv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    cos_e4 = F.round(dot / (F.col("nrm") * F.col("nn")) * 10000).cast("long")
    w = Window.partitionBy("vec_id").orderBy(
        F.col("hard_cos_e4").desc(), F.col("neighbor_id")
    )
    hardest = (
        base.join(F.broadcast(other), F.col("label") != F.col("neighbor_label"))
        .withColumn("hard_cos_e4", cos_e4)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    return (
        hardest.groupBy("label", "neighbor_label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("hard_cos_e4").alias("_sum_e4"),
            F.max("hard_cos_e4").alias("max_hard_cos_e4"),
        )
        .withColumn(
            "avg_hard_cos",
            F.round(F.col("_sum_e4") / (F.col("n_vecs") * F.lit(10000.0)), 6),
        )
        .select(
            "label", "neighbor_label", "n_vecs",
            "avg_hard_cos", "max_hard_cos_e4",
        )
    )


_HARD_NEG_SQL = """
WITH n AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm
  FROM embeddings
), pairs AS (
  SELECT a.vec_id, a.label, b.vec_id AS neighbor_id,
         b.label AS neighbor_label,
         CAST(ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 10000)
              AS BIGINT) AS hard_cos_e4
  FROM n a JOIN n b ON a.label <> b.label
), hardest AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY hard_cos_e4 DESC, neighbor_id) AS rk
  FROM pairs
)
SELECT label, neighbor_label, COUNT(*) AS n_vecs,
       ROUND(CAST(SUM(hard_cos_e4) AS BIGINT)
             / (COUNT(*) * 10000.0), 6) AS avg_hard_cos,
       CAST(MAX(hard_cos_e4) AS BIGINT) AS max_hard_cos_e4
FROM hardest WHERE rk = 1
GROUP BY label, neighbor_label
"""


# ---------------------------------------------------------------------------
# Scalar (int8) quantization error census — the SQ8 half of IVF+SQ
# ---------------------------------------------------------------------------


def embedding_sq8_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization error census: symmetric per-vector SQ8
    (scale = max|v_i| / 127, q_i = round(v_i/scale)) and the exact
    reconstruction error it costs, per label — the go/no-go number for
    shipping an IVF+SQ8 index (4x memory cut) instead of full floats.

    Cross-engine determinism: scale, q_i and err_i are each a short
    chain of single IEEE ops on identical doubles, so both engines
    compute bit-equal values; the per-element squared error is floored
    to 1e-12 units and summed as exact BIGINTs, so no float
    accumulation order exists anywhere. Zero vectors quantize to zero
    error via the scale=0 guard.

    Scale shape: pure map-side higher-order expressions per row (no
    Python, no join), then one label-grain hash aggregate."""
    emb = (
        _t(spark, sf_dir, "embeddings")
        .select("label", F.col("embedding").cast("array<double>").alias("v"))
        # one-file fixture = one input split; the per-element error
        # fold is CPU-bound, so spread it (real corpora arrive in many
        # splits and skip this)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # scale MUST be a materialized column, not an inlined expression:
    # Catalyst inlines column expressions into higher-order lambdas, so
    # an inline scale would re-run array_max(transform(v, abs)) for
    # every element reference — O(dim^2) per row (the measured
    # word_shingles_all trap; 20x here too).
    scaled = emb.withColumn(
        "scale", F.array_max(F.transform("v", F.abs)) / F.lit(127.0)
    )
    scale = F.col("scale")
    err = lambda x: x - scale * F.floor(x / scale + F.lit(0.5))  # noqa: E731
    e2_e12 = lambda x: F.floor(F.lit(1e12) * err(x) * err(x)).cast(  # noqa: E731
        "bigint"
    )
    sum_e2 = F.aggregate(
        F.transform("v", e2_e12),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    with_err = scaled.select(
        "label",
        F.size("v").alias("dim"),
        F.when(scale == 0.0, F.lit(0).cast("bigint"))
        .otherwise(sum_e2)
        .alias("err2_e12"),
    )
    return with_err.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("err2_e12").cast("bigint").alias("sum_err2_e12"),
        F.round(
            F.sum("err2_e12").cast("double")
            / 1e12
            / F.sum("dim").cast("double"),
            12,
        ).alias("mse_per_dim"),
    )


_SQ8_SQL = """
WITH q AS (
  SELECT label, embedding::DOUBLE[] AS v,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
           AS scale
  FROM embeddings
), e AS (
  SELECT label, len(v) AS dim,
         CASE WHEN scale = 0.0 THEN CAST(0 AS BIGINT)
              ELSE CAST(list_sum(list_transform(v,
                x -> CAST(FLOOR(1e12 * (x - scale * FLOOR(x / scale + 0.5))
                                    * (x - scale * FLOOR(x / scale + 0.5)))
                          AS BIGINT))) AS BIGINT)
         END AS err2_e12
  FROM q
)
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(err2_e12) AS BIGINT) AS sum_err2_e12,
       ROUND(CAST(SUM(err2_e12) AS DOUBLE) / 1e12
             / CAST(SUM(dim) AS DOUBLE), 12) AS mse_per_dim
FROM e GROUP BY label
"""


# -- Product quantization (PQ) ANN with asymmetric distance ----------------
# Jégou, Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
# Search" (TPAMI) — the codebook/ADC design every 100-TB-scale vector
# index (FAISS IVF-PQ, ScaNN) builds on. Dim-64 vectors split into
# PQ_M=4 subspaces of PQ_SUB=16 dims; a k-means codebook (PQ_KS
# centroids) is trained PER SUBSPACE, each vector compresses to 4
# small codes, and a query scores candidates by summing per-subspace
# LOOKUP-TABLE distances (ADC) instead of touching raw vectors.
PQ_M = 4
PQ_SUB = 16
PQ_KS = 8
PQ_ITERS = 2


def _pq_sq_dist(a: Column, b: Column) -> Column:
    """Exact integer squared L2 between two bigint arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _pq_codes_expr(vec_col: str) -> Column:
    """PQ encode as a pure expression: given a bigint-array column and
    the broadcast ``cents`` array (from _pq_codebooks), the argmin
    centroid id per subspace — map-side, no shuffle. Shared by the
    flat PQ scan and the IVF-PQ residual variant."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda i: F.element_at(
            F.array_sort(
                F.transform(
                    F.filter(F.col("cents"), lambda c: c["m"] == i),
                    lambda c: F.struct(
                        _pq_sq_dist(
                            F.slice(F.col(vec_col), i * PQ_SUB + 1, F.lit(PQ_SUB)),
                            c["cq"],
                        ).alias("dist"),
                        c["cid"].alias("cid"),
                    ),
                )
            ),
            1,
        )["cid"],
    )


def _pq_split_expr(vec_col: str) -> Column:
    """Map-side subspace split: bigint array -> array of
    struct(m, sqv) with PQ_M slices of PQ_SUB dims."""
    return F.expr(
        f"transform(sequence(0, {PQ_M - 1}), i -> struct("
        f"cast(i as int) as m, slice({vec_col}, i * {PQ_SUB} + 1, {PQ_SUB}) as sqv))"
    )


def _pq_subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, sqv): each embedding quantized to integers
    (floor(x*1e6) — exact cross-engine arithmetic) and split map-side
    into PQ_M subvectors."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = F.transform("v", lambda x: F.floor(x * 1e6).cast("bigint"))
    return emb.select("vec_id", qv.alias("qv")).select(
        "vec_id", F.explode(_pq_split_expr("qv")).alias("s")
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sqv").alias("sqv"))


def _pq_codebooks(subs: DataFrame, ks: int = PQ_KS, iters: int = PQ_ITERS) -> DataFrame:
    """Per-subspace Lloyd's k-means run over ALL subspaces at once by
    carrying ``m`` through the keys: one (m, cell, d) shuffle per
    iteration, assignment a map-side broadcast argmin, exact integer
    arithmetic throughout. Init = subvectors of the first ``ks``
    embeddings. Returns (m, cid, cq)."""
    cent = subs.filter(F.col("vec_id") < ks).select(
        "m", F.col("vec_id").cast("int").alias("cid"), F.col("sqv").alias("cq")
    )
    for _ in range(iters):
        cent_arr = cent.select(F.struct("m", "cid", "cq").alias("c")).agg(
            F.array_sort(F.collect_list("c")).alias("cents")
        )
        scored = F.transform(
            F.filter(F.col("cents"), lambda c: c["m"] == F.col("m")),
            lambda c: F.struct(
                _pq_sq_dist(F.col("sqv"), c["cq"]).alias("dist"),
                c["cid"].alias("cid"),
            ),
        )
        assigned = subs.join(F.broadcast(cent_arr)).withColumn(
            "cell", F.element_at(F.array_sort(scored), 1)["cid"]
        )
        cent = (
            assigned.select("m", "cell", F.posexplode("sqv").alias("d", "q"))
            .groupBy("m", "cell", "d")
            .agg(F.expr("sum(q) div count(1)").alias("cq"))
            .groupBy("m", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "cq"))),
                    lambda p: p["cq"],
                ).alias("cq")
            )
            .select("m", F.col("cell").cast("int").alias("cid"), "cq")
        )
    return cent


def ann_pq_adc_topk(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, topk: int = 5
) -> DataFrame:
    """PQ compression + asymmetric-distance top-k (the FAISS-style PQ
    scan). Three stages, each in its at-scale shape:

    1. codebooks: per-subspace k-means (`_pq_codebooks`) — tiny result
       (PQ_M*PQ_KS rows), broadcast everywhere below;
    2. encode: every vector maps to PQ_M codes via a broadcast argmin —
       ZERO shuffle, and at 10^9 rows the codes table is ~100x smaller
       than the raw vectors (the entire point of PQ);
    3. ADC scan: per-query lookup tables (n_queries*PQ_M*PQ_KS rows)
       are built from the query subvectors, reshaped into ONE broadcast
       row of nested arrays, and each candidate's distance is a pure
       map-side array lookup + fold — the only exchange in the whole
       scan is the final per-query top-k window. Production composes
       stage 3 with an IVF cell filter (as in ann_ivf_topk) to bound
       candidates; the full scan here is the stated-exhaustive variant.

    Distances are exact integer arithmetic end to end (quantized
    subvectors, integer LUT entries), so Spark and DuckDB agree
    bitwise; ties break on neighbor_id. Emits
    (query_id, neighbor_id, nn_rank, adc_dist_q)."""
    subs = _pq_subvectors(spark, sf_dir)
    cent = _pq_codebooks(subs)
    cent_arr = cent.select(F.struct("m", "cid", "cq").alias("c")).agg(
        F.array_sort(F.collect_list("c")).alias("cents")
    )

    # per-query LUT: distance from each query subvector to every
    # centroid of its subspace, ordered by cid (cents is sorted, so
    # transform() yields the cid-indexed list directly)
    per_qm = subs.filter(F.col("vec_id") < n_queries).join(F.broadcast(cent_arr)).select(
        F.col("vec_id").alias("query_id"),
        "m",
        F.transform(
            F.filter(F.col("cents"), lambda c: c["m"] == F.col("m")),
            lambda c: _pq_sq_dist(F.col("sqv"), c["cq"]),
        ).alias("lut_m"),
    )
    luts_row = (
        per_qm.groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "lut_m"))),
                lambda p: p["lut_m"],
            ).alias("lut_q")
        )
        .agg(F.array_sort(F.collect_list(F.struct("query_id", "lut_q"))).alias("luts"))
    )

    # encode: map-side argmin per subspace against the broadcast
    # codebooks; one array<int> of PQ_M codes per vector, no shuffle
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    base = emb.select(
        "vec_id",
        F.transform("v", lambda x: F.floor(x * 1e6).cast("bigint")).alias("qv"),
    )
    coded = (
        base.join(F.broadcast(cent_arr))
        .withColumn("codes", _pq_codes_expr("qv"))
        .select("vec_id", "codes")
    )

    # ADC: for each (vector, query) pair, sum the LUT entry of each
    # subspace's code — element_at lookups over the broadcast nested
    # array, all inside whole-stage codegen; explode fans a vector row
    # out to n_queries scored rows map-side
    scored = (
        coded.join(F.broadcast(luts_row))
        .select("vec_id", "codes", F.explode("luts").alias("ql"))
        .select(
            F.col("ql.query_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                F.lit(0).cast("bigint"),
                lambda acc, i: acc
                + F.element_at(
                    F.element_at(F.col("ql.lut_q"), i + F.lit(1)),
                    F.element_at(F.col("codes"), i + F.lit(1)) + F.lit(1),
                ),
            ).alias("adc_dist_q"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist_q").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= topk)
        .select("query_id", "neighbor_id", "nn_rank", "adc_dist_q")
    )


def _pq_kmeans_ctes(
    m: int = PQ_M, sub: int = PQ_SUB, ks: int = PQ_KS, iters: int = PQ_ITERS
) -> str:
    """Per-subspace k-means as unrolled CTEs (Lloyd's iterations with
    the subspace index carried through every key)."""
    parts = [
        f"""WITH e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS qv
  FROM embeddings
), sub AS (
  SELECT vec_id, CAST(t.m AS INTEGER) AS m, s.d, qv[t.m * {sub} + s.d] AS q
  FROM e, range(0, {m}) t(m), range(1, {sub + 1}) s(d)
), c0 AS (
  SELECT m, CAST(vec_id AS INTEGER) AS cid, d, q AS cq
  FROM sub WHERE vec_id < {ks}
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f""", dist{i} AS (
  SELECT s.vec_id, s.m, c.cid, SUM((s.q - c.cq) * (s.q - c.cq)) AS dist
  FROM sub s JOIN c{i - 1} c ON s.m = c.m AND s.d = c.d
  GROUP BY 1, 2, 3
), a{i} AS (
  SELECT vec_id, m, cid FROM (
    SELECT vec_id, m, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
    FROM dist{i}
  ) WHERE rn = 1
), c{i} AS (
  SELECT a.m, a.cid, s.d, CAST(SUM(s.q) // COUNT(*) AS BIGINT) AS cq
  FROM a{i} a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
  GROUP BY 1, 2, 3
)""")
    return "".join(parts)


def _pq_adc_sql(
    m: int = PQ_M, sub: int = PQ_SUB, ks: int = PQ_KS, iters: int = PQ_ITERS,
    n_queries: int = 10, topk: int = 5,
) -> str:
    return _pq_kmeans_ctes(m, sub, ks, iters) + f""", cdist AS (
  SELECT s.vec_id, s.m, c.cid, SUM((s.q - c.cq) * (s.q - c.cq)) AS dist
  FROM sub s JOIN c{iters} c ON s.m = c.m AND s.d = c.d
  GROUP BY 1, 2, 3
), codes AS (
  SELECT vec_id, m, cid AS code FROM (
    SELECT vec_id, m, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
    FROM cdist
  ) WHERE rn = 1
), lut AS (
  SELECT vec_id AS query_id, m, cid, dist AS lut
  FROM cdist WHERE vec_id < {n_queries}
), adc AS (
  SELECT l.query_id, k.vec_id AS neighbor_id,
         CAST(SUM(l.lut) AS BIGINT) AS adc_dist_q
  FROM codes k JOIN lut l ON l.m = k.m AND l.cid = k.code
  WHERE k.vec_id <> l.query_id
  GROUP BY 1, 2
), top AS (
  SELECT query_id, neighbor_id, adc_dist_q,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist_q, neighbor_id) AS nn_rank
  FROM adc
)
SELECT query_id, neighbor_id, nn_rank, adc_dist_q
FROM top WHERE nn_rank <= {topk}
"""


# Matryoshka-style truncation audit: score neighbors with only the
# first TRUNC_DIMS of the 64 embedding dims and measure recall@5
# against the full-dim ground truth — the go/no-go number for serving
# a shorter-prefix index (MRL embeddings) or a cheaper first-stage
# retriever at 10^9-vector scale.
TRUNC_DIMS = 16


def ann_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of brute-force cosine over the first TRUNC_DIMS
    dimensions vs the full-dim brute-force top-5 — composed in ONE
    plan, same evaluate-the-approximation discipline as ann_ivf_recall.

    Scale shape: the truncated pass slices the vector map-side before
    any distance work (Arrow/JVM array slice, no shuffle), so its
    candidate scoring costs TRUNC_DIMS/64 of the full pass; the
    comparison join is over topk-bounded rows. At deployment scale the
    truncated stage would be the cheap first-stage scan feeding a
    full-dim re-rank — this census IS that design's recall gate."""
    full = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.slice(F.col("embedding").cast("array<double>"), 1, TRUNC_DIMS).alias("v"),
    )
    sq = lambda v: F.aggregate(  # noqa: E731
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    base = emb.withColumn("nrm", F.sqrt(sq(F.col("v"))))
    q = base.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    ).filter(F.col("query_id") < 10)
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    trunc = (
        base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", cos)
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= 5)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    hits = (
        trunc.join(full, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qids = trunc.select("query_id").distinct()
    n_hits = F.coalesce("n_hits", F.lit(0)).cast("bigint")
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        n_hits.alias("n_hits"),
        F.round(n_hits / 5.0, 6).alias("recall_at_5"),
    )


def _dim_trunc_recall_sql() -> str:
    return f"""
WITH full_tk AS (
  SELECT query_id, neighbor_id FROM ({_ANN_SQL})
), e AS (
  SELECT vec_id, (embedding::DOUBLE[])[1:{TRUNC_DIMS}] AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10
), s AS (
  SELECT query_id, n.vec_id AS neighbor_id,
         list_dot_product(qv, v) / (qn * nrm) AS cos
  FROM q JOIN n ON n.vec_id <> q.query_id
), trunc_tk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS r
    FROM s
  ) WHERE r <= 5
), hits AS (
  SELECT query_id, COUNT(*) AS n_hits
  FROM trunc_tk JOIN full_tk USING (query_id, neighbor_id) GROUP BY 1
)
SELECT q.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(COALESCE(h.n_hits, 0) / 5.0, 6) AS recall_at_5
FROM (SELECT DISTINCT query_id FROM trunc_tk) q LEFT JOIN hits h USING (query_id)
"""


GSAMPLE_K = 20
_GSAMPLE_SALTS = 8


def doc_sample_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k weighted sample PER GROUP (k docs per language,
    Efraimidis–Spirakis priorities, length-proportional): the
    stratified companion to doc_sample_weighted's global top-k —
    "give me exactly 20 representative docs per language" for eval
    sets and per-stratum audits. Same engine-portable priority
    (``-round(ln(u)*1e9)/w`` from an exact dyadic md5 uniform), so
    the sample is reproducible across runs and engines.

    Scale shape: language is a LOW-CARDINALITY, SKEWED key, so a
    single rank-window over lang would funnel 100 TB into ~#lang
    tasks. Instead: two-stage top-k — stage 1 ranks within
    (lang, salt=md5(doc_id)%8) buckets (8× the parallelism, each
    bucket's k-smallest is a superset of the global answer), stage 2
    ranks the surviving 8·k rows per lang. Both stages are windows,
    but the second touches ≤ 8k rows per language regardless of
    corpus size. The salt changes nothing semantically (asserted by
    the single-stage SQL twin matching byte-for-byte)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("gsample:"), F.col("doc_id").cast("string"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h + 1).cast("double") / F.lit(float(1 << 48))
    lnq = F.round(F.log(u) * 1e9).cast("bigint")
    w_chars = F.greatest("n_chars", F.lit(1)).cast("bigint")
    pri = (-lnq).cast("double") / w_chars.cast("double")
    salt = md5_int(F.concat(F.lit("gsalt:"), F.col("doc_id").cast("string"))) % (
        _GSAMPLE_SALTS
    )
    staged = docs.select(
        "doc_id", "lang", w_chars.alias("w_chars"), pri.alias("priority"),
        salt.alias("salt"),
    )
    w1 = Window.partitionBy("lang", "salt").orderBy(
        F.asc("priority"), F.asc("doc_id")
    )
    survivors = staged.withColumn("r1", F.row_number().over(w1)).filter(
        F.col("r1") <= GSAMPLE_K
    )
    w2 = Window.partitionBy("lang").orderBy(F.asc("priority"), F.asc("doc_id"))
    return (
        survivors.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= GSAMPLE_K)
        .select(
            "doc_id",
            "lang",
            "w_chars",
            F.round("priority", 6).alias("priority"),
            "rank",
        )
    )


_GSAMPLE_SQL = f"""
WITH h AS (
  SELECT doc_id, lang, GREATEST(n_chars, 1) AS w_chars,
         ('0x' || substr(md5('gsample:' || doc_id), 1, 12))::BIGINT AS hv
  FROM documents
), k AS (
  SELECT doc_id, lang, w_chars,
         CAST(ROUND(ln((hv + 1) / {float(1 << 48)}) * 1e9) AS BIGINT) AS lnq
  FROM h
), p AS (
  SELECT doc_id, lang, CAST(w_chars AS BIGINT) AS w_chars,
         CAST(-lnq AS DOUBLE) / CAST(w_chars AS DOUBLE) AS priority
  FROM k
)
SELECT doc_id, lang, w_chars, ROUND(priority, 6) AS priority,
       CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY priority, doc_id)
            AS INTEGER) AS rank
FROM p
QUALIFY rank <= {GSAMPLE_K}
"""


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation surface: the (true lang, detected lang)
    confusion matrix with per-true-language recall — the acceptance
    report a corpus build runs before trusting the detector for
    mixture planning. Composes the Arrow lang_id kernel; recall is
    exact ppm (n * 1e6 div row_total), never a float ratio. Scale
    shape: the kernel is a linear map-side pass; the confusion matrix
    is a (true, detected) hash aggregate of ~|langs|^2 groups — the
    window for row totals runs over that tiny aggregate, not the
    corpus."""
    from ..operators.textstats import lang_id

    det = lang_id(_docs_par(spark, sf_dir)).select("lang", "detected_lang")
    m = det.groupBy("lang", "detected_lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang")
    return m.select(
        "lang",
        "detected_lang",
        "n",
        F.sum("n").over(w).alias("row_total"),
        F.expr("n * 1000000L div sum(n) over (partition by lang)").alias(
            "recall_ppm"
        ),
    )


def _langid_confusion_sql() -> str:
    return f"""
WITH det AS ({_lang_id_sql()}),
m AS (
  SELECT lang, detected_lang, COUNT(*) AS n FROM det GROUP BY 1, 2
)
SELECT lang, detected_lang, n,
       CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS row_total,
       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY lang) AS BIGINT)
         AS recall_ppm
FROM m
"""


_REGISTRY = {
    "langid_confusion": (langid_confusion, _langid_confusion_sql()),
    "doc_sample_group_topk": (doc_sample_group_topk, _GSAMPLE_SQL),
    "ann_cosine_topk": (ann_cosine_topk, _ANN_SQL),
    "ann_dim_truncation_recall": (
        ann_dim_truncation_recall,
        _dim_trunc_recall_sql(),
    ),
    "ann_pq_adc_topk": (ann_pq_adc_topk, _pq_adc_sql()),
    "hard_negative_mining": (hard_negative_mining, _HARD_NEG_SQL),
    "embedding_sq8_census": (embedding_sq8_census, _SQ8_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine, _emb_cosine_sql()),
    "q_events_asof_join": (q_events_asof_join, _ASOF_SQL),
    "q_events_range_join": (q_events_range_join, _RANGE_JOIN_SQL),
    "ann_ivf_topk": (ann_ivf_topk, _IVF_SQL),
    "ann_ivf_recall": (ann_ivf_recall, _recall_sql()),
    "q3_shipping_priority": (q3_shipping_priority, _Q3_SQL),
    "q14_promo_revenue": (q14_promo_revenue, _Q14_SQL),
    "q5_local_supplier_volume": (q5_local_supplier_volume, _Q5_SQL),
    "q_cube_order_stats": (q_cube_order_stats, _CUBE_SQL),
    "embedding_norms": (embedding_norms, _EMB_NORMS_SQL),
    "lang_id": (lang_id_query, _lang_id_sql()),
    "doc_sample_stratified": (doc_sample_stratified, _sample_sql()),
    "doc_sample_weighted": (doc_sample_weighted, _WSAMPLE_SQL),
    "quality_filter": (quality_filter, _QUALITY_FILTER_SQL),
}
