"""The extraction job's per-run staging and per-chunk job budget: the
latest crawl is staged once and released on every exit, a chunk costs
one Spark job (its extraction write) with no join in its plan, a
chunk's lineage is readable as soon as its commit lands, under the
run_id that committed it, and a re-run removes what a hard-killed run
left staged."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001, spark_job_ids


@pytest.fixture(scope="module")
def latest(spark):
    from text_extraction_evaluation_spark.operators.extract import latest_crawl
    from text_extraction_evaluation_spark.sources.readers import pages_df

    df = latest_crawl(pages_df(spark, SF0001, n_partitions=8)).cache()
    df.count()
    yield df
    df.unpersist()


def _assert_nothing_staged(spark, root, rdds_before):
    import os

    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _storage_rdd_ids(spark) <= rdds_before
    assert [p for p in os.listdir(root) if p.startswith("_staged")] == []


def _storage_rdd_ids(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_chunk_job_budget_bucket_and_plan(spark, latest, tmp_path, monkeypatch):
    from text_extraction_evaluation_spark.plans.jobs import run_extraction_job
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog

    plans = []
    commit = LocalCatalog.commit_append

    def spy(self, df, table, chunk_id, meta=None):
        out = commit(self, df, table, chunk_id, meta)
        if table == "extracted":
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(LocalCatalog, "commit_append", spy)
    n_buckets, n_chunks = 4, 2
    with spark_job_ids(spark) as jobs:
        run_extraction_job(spark, latest, str(tmp_path), n_buckets=n_buckets,
                           buckets_per_chunk=n_buckets // n_chunks)
    assert len(jobs) <= 3 + n_chunks, sorted(jobs)

    assert len(plans) == n_chunks
    for plan in plans:
        assert "Join" not in plan, plan

    rows = LocalCatalog(str(tmp_path)).read(spark, "extracted")
    assert rows.count() == latest.count()
    wrong = rows.filter(
        F.col("url_bucket") != F.pmod(F.xxhash64("url"), F.lit(n_buckets))
    )
    assert wrong.count() == 0


def test_staged_input_released_on_return(spark, tmp_path):
    from text_extraction_evaluation_spark.operators.extract import latest_crawl
    from text_extraction_evaluation_spark.plans.jobs import run_extraction_job
    from text_extraction_evaluation_spark.sources.readers import pages_df

    spark.catalog.clearCache()
    before = _storage_rdd_ids(spark)
    pages = latest_crawl(pages_df(spark, SF0001, n_partitions=8))
    run_extraction_job(spark, pages, str(tmp_path), n_buckets=4, buckets_per_chunk=2)
    _assert_nothing_staged(spark, tmp_path, before)


def test_staged_input_released_on_chunk_failure(spark, tmp_path):
    from text_extraction_evaluation_spark.operators.extract import latest_crawl
    from text_extraction_evaluation_spark.plans.jobs import (
        ChunkFailure,
        run_extraction_job,
    )
    from text_extraction_evaluation_spark.sources.readers import pages_df

    spark.catalog.clearCache()
    before = _storage_rdd_ids(spark)
    pages = latest_crawl(pages_df(spark, SF0001, n_partitions=8))
    with pytest.raises(ChunkFailure):
        run_extraction_job(spark, pages, str(tmp_path), n_buckets=4,
                           buckets_per_chunk=2, fail_after_chunks=1)
    _assert_nothing_staged(spark, tmp_path, before)


def test_lineage_lands_with_its_chunk(spark, latest, tmp_path):
    """A run stopped after one chunk already has that chunk's lineage,
    under its run_id, with no second run; after a resume under another
    run_id the view shows each id on the chunks it committed."""
    from text_extraction_evaluation_spark.plans.jobs import (
        ChunkFailure,
        read_run_metrics,
        run_extraction_job,
    )
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog

    root = str(tmp_path)
    with pytest.raises(ChunkFailure):
        run_extraction_job(spark, latest, root, n_buckets=8, buckets_per_chunk=2,
                           run_id="first", fail_after_chunks=1)
    cat = LocalCatalog(root)
    first = set(cat.committed_chunks("extracted"))
    assert len(first) == 1
    rm = read_run_metrics(spark, root).collect()
    assert {(r["run_id"], r["chunk_id"]) for r in rm} == {("first", c) for c in first}
    assert sum(r["n_docs"] for r in rm) == cat.read(spark, "extracted").count()

    run_extraction_job(spark, latest, root, n_buckets=8, buckets_per_chunk=2,
                       run_id="second")
    assert len(cat.committed_chunks("extracted")) == 4
    rm = read_run_metrics(spark, root).collect()
    assert sum(r["n_docs"] for r in rm) == latest.count()
    assert {r["run_id"] for r in rm if r["chunk_id"] in first} == {"first"}
    assert {r["run_id"] for r in rm if r["chunk_id"] not in first} == {"second"}


def test_rerun_reclaims_orphans_of_a_killed_run(spark, latest, tmp_path):
    """A hard kill skips the ``finally`` that removes a run's staged input
    and the commit-staging directories. The next run of each job removes
    them before its first write and leaves committed chunks as they were."""
    import os

    from text_extraction_evaluation_spark.plans.jobs import (
        ChunkFailure,
        run_extraction_job,
        run_score_job,
    )
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog
    from text_extraction_evaluation_spark.sources.readers import gold_df

    root = str(tmp_path)
    with pytest.raises(ChunkFailure):
        run_extraction_job(spark, latest, root, n_buckets=4, buckets_per_chunk=2,
                           fail_after_chunks=1)
    cat = LocalCatalog(root)
    committed = cat.committed_chunks("extracted")
    assert len(committed) == 1

    def chunk_files():
        return {cid: sorted(os.listdir(cat.chunk_path("extracted", cid))) for cid in committed}

    files = chunk_files()

    def plant(*parts):
        path = os.path.join(root, *parts)
        os.makedirs(path)
        open(os.path.join(path, "part-0.parquet"), "wb").close()
        return path

    orphans = [
        plant("_staged-deadbeef"),
        plant("extracted", "chunk=n0004-b0002-0003.staging-deadbeef"),
    ]
    run_extraction_job(spark, latest, root, n_buckets=4, buckets_per_chunk=2)
    assert [p for p in orphans if os.path.exists(p)] == []
    assert {cid: c for cid, c in cat.committed_chunks("extracted").items()
            if cid in committed} == committed
    assert chunk_files() == files
    assert cat.read(spark, "extracted").count() == latest.count()

    orphans = [plant("scores", "chunk=full.staging-deadbeef"),
               plant("report", "chunk=full.staging-deadbeef")]
    run_score_job(spark, root, gold_df(spark, SF0001))
    assert [p for p in orphans if os.path.exists(p)] == []
    assert cat.is_committed("scores", "full") and cat.is_committed("report", "full")
