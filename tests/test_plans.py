"""Physical-plan audits (the .explain discipline from the build brief):
filters reach the parquet scan, projections prune columns, dimension
joins broadcast, aggregates have map-side partials, and the extraction
kernel's input is pruned before the Arrow boundary. These are the
properties that decide whether the same plan survives a 100x scale-up.
"""

from __future__ import annotations

from tests.conftest import SF0001


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushdown_and_column_pruning(spark):
    from text_extraction_evaluation_spark.plans.queries import q1_pricing_summary

    plan = plan_of(q1_pricing_summary(spark, SF0001))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "partial_sum" in plan  # map-side combine
    # pruned: orderkey/partkey/suppkey never read
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_nation_revenue_broadcasts_dims(spark):
    from text_extraction_evaluation_spark.plans.queries import q_nation_revenue

    plan = plan_of(q_nation_revenue(spark, SF0001))
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    # column pruning on the fact scan
    scan = [ln for ln in plan.splitlines() if "lineitem.parquet" in ln][0]
    assert "l_quantity" not in scan and "l_shipdate" not in scan


def test_scoring_join_is_broadcast(spark):
    from text_extraction_evaluation_spark.operators.extract import (
        extract_pages,
        extracted_clean,
        latest_crawl,
    )
    from text_extraction_evaluation_spark.operators.score import score_extracted
    from text_extraction_evaluation_spark.sources.readers import gold_df, pages_df

    pages = pages_df(spark, SF0001, n_partitions=4)
    extracted = extracted_clean(extract_pages(latest_crawl(pages)))
    scores = score_extracted(extracted, gold_df(spark, SF0001))
    plan = plan_of(scores)
    assert "BroadcastHashJoin" in plan  # gold is the broadcast side


def test_extract_kernel_input_is_pruned(spark):
    from text_extraction_evaluation_spark.operators.extract import extract_pages
    from text_extraction_evaluation_spark.sources.readers import pages_df

    pages = pages_df(spark, SF0001, n_partitions=4)
    # pages carries a 'text' (gold) column; the kernel must not consume
    # it — the python-map stage reads whole rows, so the explicit select
    # before the kernel is what keeps gold text out of the Arrow channel
    plan = optimized_of(extract_pages(pages))
    lines = plan.splitlines()
    # the extraction kernel is pinned to the raw-Arrow channel — a
    # silent fallback to mapInPandas would reintroduce the per-batch
    # pandas build the round-4 conversion removed
    kernel_idx = next(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    child_project = next(
        ln for ln in lines[kernel_idx + 1:] if "Project [" in ln or "Project[" in ln
    )
    for col in ("url", "warc_ts", "html", "lang"):
        assert col in child_project
    assert "text" not in child_project


def test_anti_join_shape(spark):
    from text_extraction_evaluation_spark.plans.queries import (
        q_customers_without_orders,
    )

    plan = plan_of(q_customers_without_orders(spark, SF0001))
    assert "LeftAnti" in plan


def test_semi_join_shape(spark):
    from text_extraction_evaluation_spark.plans.queries import q_urgent_shipped_orders

    plan = plan_of(q_urgent_shipped_orders(spark, SF0001))
    assert "LeftSemi" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan


def test_latest_crawl_single_shuffle(spark):
    from text_extraction_evaluation_spark.operators.extract import latest_crawl
    from text_extraction_evaluation_spark.sources.readers import pages_df

    pages = pages_df(spark, SF0001, n_partitions=4)
    plan = plan_of(latest_crawl(pages))
    # exactly one exchange for the window (plus the synth repartition)
    n_exchanges = plan.count("Exchange hashpartitioning(url")
    assert n_exchanges == 1


def test_asof_join_is_zero_join_single_shuffle(spark):
    """The as-of composition must never produce a join operator (the
    range-join explosion it exists to avoid) — just a union feeding one
    window shuffle per key."""
    from text_extraction_evaluation_spark.plans.queries import q_events_asof_join

    plan = plan_of(q_events_asof_join(spark, SF0001))
    assert "Join" not in plan
    # at most two exchanges: the tiny clicks pre-aggregation on
    # (user_id, ts) and the one window shuffle on user_id — never a
    # shuffle per side plus a join (upper bound, not exact: AQE /
    # planner versions may legally merge or reuse an exchange)
    assert plan.count("Exchange hashpartitioning") <= 2


def test_ivf_no_cartesian_and_cell_equijoin(spark):
    """IVF: corpus may meet the (tiny, broadcast) centroid table via a
    nested-loop broadcast, but the inverted-list probe must be an
    equi-join on the cell id — never a cartesian product."""
    from text_extraction_evaluation_spark.plans.queries import ann_ivf_topk

    plan = plan_of(ann_ivf_topk(spark, SF0001))
    assert "CartesianProduct" not in plan
    assert "cell" in plan
    assert any(j in plan for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    # assignment is map-side argmin over the broadcast centroid array —
    # the corpus must never shuffle on vec_id to pick its cell
    assert "Exchange hashpartitioning(vec_id" not in plan


def test_embedding_cosine_bucket_equijoin(spark):
    from text_extraction_evaluation_spark.plans.queries import dedup_embedding_cosine

    plan = plan_of(dedup_embedding_cosine(spark, SF0001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pair_queries_are_equijoins(spark):
    """The registered near-dup pair plans must be equi-joins (banded
    SimHash, inverted-index Jaccard) — never the O(n^2) nested-loop
    shapes their brute test-twins use."""
    from text_extraction_evaluation_spark.plans.queries import (
        dedup_ngram_jaccard,
        dedup_simhash_pairs,
    )

    for q in (dedup_simhash_pairs, dedup_ngram_jaccard):
        plan = plan_of(q(spark, SF0001))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__
        assert any(
            j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        ), q.__name__


def test_new_corpus_queries_prune_and_equijoin(spark):
    """doc_sample_stratified is map-side pre-agg and reads only the
    columns it needs; quality_filter prunes too; doc_containment's
    candidate generation is an equi-join on the fingerprint."""
    from text_extraction_evaluation_spark.plans.queries import (
        doc_containment,
        doc_sample_stratified,
        quality_filter,
    )

    plan = plan_of(doc_sample_stratified(spark, SF0001))
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "text" not in read_schema  # only doc_id, lang, n_chars read
    assert "partial_count" in plan or "partial" in plan  # map-side combine

    plan = plan_of(quality_filter(spark, SF0001))
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "n_chars" not in read_schema and "source" not in read_schema

    plan = plan_of(doc_containment(spark, SF0001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_salting_spreads_hot_url(spark):
    """The north-rule skew case: one url crawled thousands of times
    pins a single Python worker under plain url-hash partitioning;
    salting on (url, warc_ts) spreads its crawls across partitions
    while staying deterministic."""
    from pyspark.sql import functions as F

    from text_extraction_evaluation_spark.operators.extract import salted_repartition

    hot = spark.range(400).select(
        F.lit("https://skew.example/hot").alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("warc_ts"),
        F.lit(b"<html></html>").alias("html"),
        F.lit("en").alias("lang"),
    )
    cold = spark.range(400).select(
        F.concat(F.lit("https://host"), F.col("id"), F.lit(".example/p")).alias("url"),
        F.timestamp_seconds(F.lit(1700000000)).alias("warc_ts"),
        F.lit(b"<html></html>").alias("html"),
        F.lit("en").alias("lang"),
    )
    pages = hot.unionByName(cold)

    def sizes(df):
        return [
            r["count"]
            for r in df.groupBy(F.spark_partition_id().alias("p")).count().collect()
        ]

    plain = sizes(pages.repartition(8, F.pmod(F.xxhash64("url"), F.lit(8))))
    salted = sizes(salted_repartition(pages, 8))
    # plain url-hash: every hot crawl lands in ONE partition (>= 400)
    assert max(plain) >= 400
    # salted: the hot url spreads; the largest partition carries well
    # under half of the hot mass
    assert max(salted) < 400 * 0.5 + 800 / 8


def test_approx_count_distinct_sanity_counter(spark):
    """SURVEY §2.5 'approx distinct' — the 10^12-scale sanity counter:
    approx_count_distinct(url) lands within its documented rsd of the
    exact count on the synthesized page corpus (HLL++ sketch, one pass,
    no shuffle of urls)."""
    from pyspark.sql import functions as F

    from text_extraction_evaluation_spark.sources.readers import pages_df

    pages = pages_df(spark, SF0001, n_partitions=4)
    row = pages.agg(
        F.approx_count_distinct("url", rsd=0.02).alias("approx"),
        F.countDistinct("url").alias("exact"),
    ).first()
    assert abs(row["approx"] - row["exact"]) <= 0.06 * row["exact"]


def test_aqe_splits_planted_skew_join(spark):
    """The 100 TB skew story beyond salting: a join key holding most of
    the probe side's mass gets split by AQE's skew-join handling at
    runtime (OptimizeSkewedJoin), without any manual salting — assert
    the skew annotation in the final adaptive plan and the exact row
    count."""
    from pyspark.sql import functions as F

    hot = spark.range(200_000).select(
        F.lit(0).alias("k"), F.col("id").alias("payload")
    )
    cold = spark.range(2_000).select(
        (F.col("id") % 50 + 1).alias("k"), F.col("id").alias("payload")
    )
    # NO explicit repartition on the join key: AQE refuses to split a
    # user-specified distribution, so skew handling only applies to the
    # join's own shuffle (learned the hard way — a manual
    # repartition(N, key) before a skewed join DISABLES the rescue;
    # that is when the salting path in operators/extract.py applies)
    left = hot.unionByName(cold)
    right = spark.range(51).select(
        (F.col("id") % 51).alias("k"), F.col("id").alias("payload_r")
    )

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        joined = left.join(right, "k").groupBy().count()
        rows = joined.collect()  # executes THIS plan so AQE finalizes it
        assert rows[0]["count"] == 202_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_range_join_is_banded_equijoin(spark):
    """The banded range join must plan the candidate step as an
    equi-join on (user_id, bin) — the raw interval predicate alone
    would be a nested-loop join."""
    from text_extraction_evaluation_spark.plans.queries import q_events_range_join

    plan = plan_of(q_events_range_join(spark, SF0001))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_domain_cap_window_has_partial_group_limit(spark):
    """Domain capping relies on Spark's rank-limit pushdown for skew
    safety: the row_number <= CAP filter must plan as WindowGroupLimit
    with a PARTIAL pass before the exchange, so each map task ships at
    most CAP rows per host and the hot host never funnels its full page
    list into one window task. If a Spark upgrade ever drops this
    rewrite, fail loudly — the query would silently become the skew
    trap its docstring rules out."""
    from text_extraction_evaluation_spark.plans.queries import host_domain_cap

    plan = plan_of(host_domain_cap(spark, SF0001))
    assert "WindowGroupLimit" in plan
    partial = [
        ln for ln in plan.splitlines()
        if "WindowGroupLimit" in ln and "Partial" in ln
    ]
    assert partial, f"no partial WindowGroupLimit pass in:\n{plan}"
    # the census join stays broadcast (38 hosts, never a shuffle join)
    assert "BroadcastHashJoin" in plan


def test_runtime_bloom_filter_join_injection(spark):
    """The 100-TB shuffle-join shrinker: with runtime filters enabled,
    Catalyst builds a Bloom filter from the SELECTIVE (filtered) side
    of a shuffle join and pushes it into the big side's scan, so most
    non-matching lineitem rows die before the exchange instead of
    shuffling. This test pins the injection happening on this Spark
    version with the thresholds a large deployment would set (the
    defaults gate on a 10 GB application-side scan, far above the
    fixture). If an upgrade silently stops injecting, fail loudly."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF0001}/lineitem.parquet")
        o = spark.read.parquet(f"{SF0001}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        assert "bloom" in optimized_of(j).lower()
        assert "bloom" in plan_of(j).lower()
        # and the result is unaffected by the filter (no false negatives)
        with_bloom = {r["o_orderpriority"]: r["count"] for r in j.collect()}
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        without = {r["o_orderpriority"]: r["count"] for r in (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
            .collect()
        )}
        assert with_bloom == without
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path_factory):
    """At 100 TB the pages/fact tables are date-partitioned; a
    fact ⋈ filtered-dim join must prune fact PARTITIONS at runtime
    (dynamic partition pruning), not scan-then-filter. Writes a
    month-partitioned fact, joins a dim filtered to 2 months, and
    asserts the dynamicpruningexpression partition filter is in the
    fact scan plus the exact surviving row count."""
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("dpp") / "fact")
    spark.range(12_000).select(
        F.col("id").alias("k"), (F.col("id") % 12).alias("month")
    ).write.partitionBy("month").parquet(root)

    fact = spark.read.parquet(root)
    dim = spark.range(12).select(
        F.col("id").alias("month"),
        F.when(F.col("id").isin(3, 4), "keep").otherwise("drop").alias("flag"),
    )
    joined = fact.join(dim.filter(F.col("flag") == "keep"), "month")
    n = joined.count()
    assert n == 2_000
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, plan[:2000]


def test_crawl_budget_global_rank_is_distributed(spark, monkeypatch):
    """The largest-remainder pick needs a GLOBAL row_number with a
    data-dependent k, which a bare Window.orderBy would execute as a
    single-partition sort at host cardinality. The plan must instead be
    the distributed form: a range exchange on the sort key, the
    host-cardinality rank partitioned by spark_partition_id, and the
    only empty-partition window left running over the per-partition
    offset table (one row per partition, never per host). The range
    exchange runs inside the local checkpoint that pins the pids, so
    the plan read is the checkpointed DataFrame's plus the final one."""
    from text_extraction_evaluation_spark.plans.queries import (
        crawl_budget_allocation,
    )

    checkpointed = []
    frame_cls = type(spark.range(1))
    real = frame_cls.localCheckpoint

    def spy(self, *args, **kwargs):
        checkpointed.append(plan_of(self))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    final = plan_of(crawl_budget_allocation(spark, SF0001))
    assert len(checkpointed) == 1
    plan = checkpointed[0] + "\n" + final
    assert "rangepartitioning(rem" in plan
    windows = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert windows, plan
    for ln in windows:
        if "rem" in ln:  # the host-cardinality rank
            assert "pid" in ln.split("windowspecdefinition", 1)[1].split(",")[0], ln
    # the offsets join back to host rows must broadcast
    assert "BroadcastHashJoin" in plan


def test_crawl_budget_leaves_nothing_cached(spark):
    """The pid-pinning materialization must not outlive the query: no
    entry may be left in the session's CacheManager after collect."""
    from text_extraction_evaluation_spark.plans.queries import (
        crawl_budget_allocation,
    )

    spark.catalog.clearCache()
    rows = crawl_budget_allocation(spark, SF0001).collect()
    assert rows
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
