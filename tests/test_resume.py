"""Resume/lineage tests (SURVEY.md §5.2 item 4; BASELINE.json:6,14):
kill after k chunk commits, re-run, assert the final table equals a
single-run table with no url extracted twice, and that lineage rows
cover every partition."""

from __future__ import annotations

import pytest

from tests.conftest import SF0001


@pytest.fixture(scope="module")
def pages(spark):
    from text_extraction_evaluation_spark.operators.extract import latest_crawl
    from text_extraction_evaluation_spark.sources.readers import pages_df

    return latest_crawl(pages_df(spark, SF0001, n_partitions=8)).cache()


def _texts(spark, root):
    from text_extraction_evaluation_spark.plans.jobs import read_extracted

    df = read_extracted(spark, root)
    return {r["url"]: r["text"] for r in df.collect()}


def test_resume_after_injected_failure(spark, pages, tmp_path_factory):
    from text_extraction_evaluation_spark.plans.jobs import (
        ChunkFailure,
        run_extraction_job,
    )
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog

    root_a = str(tmp_path_factory.mktemp("run_resumed"))
    root_b = str(tmp_path_factory.mktemp("run_single"))

    with pytest.raises(ChunkFailure):
        run_extraction_job(spark, pages, root_a, n_buckets=8,
                           buckets_per_chunk=2, fail_after_chunks=2)
    cat = LocalCatalog(root_a)
    n_after_fail = len(cat.committed_chunks("extracted"))
    assert n_after_fail == 2

    # resume: completes the remaining chunks, skips committed ones
    run_extraction_job(spark, pages, root_a, n_buckets=8, buckets_per_chunk=2)
    assert len(cat.committed_chunks("extracted")) == 4

    run_extraction_job(spark, pages, root_b, n_buckets=8, buckets_per_chunk=2)

    a = _texts(spark, root_a)
    b = _texts(spark, root_b)
    assert a == b  # byte-identical resumed vs single-run output

    # no url extracted twice
    from text_extraction_evaluation_spark.plans.jobs import read_extracted

    df = read_extracted(spark, root_a)
    assert df.count() == df.select("url").distinct().count() == pages.count()


def test_concurrent_chunks_resume_and_match_serial(spark, pages, tmp_path_factory):
    """Chunk-parallel orchestration (thread pool, >=2 chunks in flight):
    injected failure mid-run, concurrent resume, output byte-identical
    to the serial single run and no url extracted twice."""
    from text_extraction_evaluation_spark.plans.jobs import (
        ChunkFailure,
        read_extracted,
        run_extraction_job,
    )
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog

    root_p = str(tmp_path_factory.mktemp("run_parallel"))
    root_s = str(tmp_path_factory.mktemp("run_serial2"))

    with pytest.raises(ChunkFailure):
        run_extraction_job(spark, pages, root_p, n_buckets=8, buckets_per_chunk=2,
                           fail_after_chunks=2, max_concurrent_chunks=3)
    cat = LocalCatalog(root_p)
    # under concurrency, in-flight chunks past the failure may still
    # commit — at least the k counted ones are in the manifest
    assert len(cat.committed_chunks("extracted")) >= 2

    run_extraction_job(spark, pages, root_p, n_buckets=8, buckets_per_chunk=2,
                       max_concurrent_chunks=3)
    assert len(cat.committed_chunks("extracted")) == 4

    run_extraction_job(spark, pages, root_s, n_buckets=8, buckets_per_chunk=2)
    assert _texts(spark, root_p) == _texts(spark, root_s)

    df = read_extracted(spark, root_p)
    assert df.count() == df.select("url").distinct().count() == pages.count()


def test_rerun_is_idempotent_noop(spark, pages, tmp_path_factory):
    from text_extraction_evaluation_spark.plans.jobs import run_extraction_job
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog

    root = str(tmp_path_factory.mktemp("run_idem"))
    run_extraction_job(spark, pages, root, n_buckets=4, buckets_per_chunk=2)
    cat = LocalCatalog(root)
    before = cat.committed_chunks("extracted")
    run_extraction_job(spark, pages, root, n_buckets=4, buckets_per_chunk=2)
    after = cat.committed_chunks("extracted")
    assert before == after  # same commits, same timestamps: nothing re-ran


def test_run_metrics_lineage(spark, pages, tmp_path_factory):
    from text_extraction_evaluation_spark.plans.jobs import (
        read_run_metrics,
        run_extraction_job,
    )

    root = str(tmp_path_factory.mktemp("run_metrics"))
    run_extraction_job(spark, pages, root, n_buckets=4, buckets_per_chunk=2)
    rm = read_run_metrics(spark, root).collect()
    assert rm, "no lineage rows"
    total_docs = sum(r["n_docs"] for r in rm)
    assert total_docs == pages.count()
    buckets = {r["url_bucket"] for r in rm}
    assert buckets == set(range(4))
    for r in rm:
        assert r["n_ok"] + r["n_err"] <= r["n_docs"]
        assert r["bytes_in"] > 0
        assert r["t_end"] >= r["t_start"]


def test_run_metrics_span_a_single_batch(spark, pages, tmp_path_factory):
    """A partition that fits in one Arrow batch still gets a time span:
    t_start is the batch's start, t_end its end, so t_end > t_start
    (stamping only the batch end made the two equal)."""
    from text_extraction_evaluation_spark.plans.jobs import (
        read_run_metrics,
        run_extraction_job,
    )

    few = pages.orderBy("url").limit(12)  # far below one Arrow batch per partition
    root = str(tmp_path_factory.mktemp("run_metrics_one_batch"))
    run_extraction_job(spark, few, root, n_buckets=1, buckets_per_chunk=1)
    rm = read_run_metrics(spark, root).collect()
    assert sum(r["n_docs"] for r in rm) == 12
    for r in rm:
        assert r["t_end"] > r["t_start"], r


def test_run_metrics_view_is_each_chunks_own_lineage(spark, pages, tmp_path_factory):
    """The lineage view holds, for every committed chunk, exactly the
    rows ``run_metrics_from_extracted`` derives from that chunk's files
    alone, under the chunk's id and the run_id of its manifest entry."""
    from text_extraction_evaluation_spark.plans.jobs import (
        RUN_METRICS_COLS,
        read_run_metrics,
        run_extraction_job,
        run_metrics_from_extracted,
    )
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog

    root = str(tmp_path_factory.mktemp("run_metrics_view"))
    run_extraction_job(spark, pages, root, n_buckets=8, buckets_per_chunk=2, run_id="r1")
    view = read_run_metrics(spark, root)
    assert view.columns == RUN_METRICS_COLS
    rows = view.collect()
    cat = LocalCatalog(root)
    committed = cat.committed_chunks("extracted")
    assert {r["chunk_id"] for r in rows} == set(committed)
    for chunk_id in committed:
        chunk = spark.read.parquet(cat.chunk_path("extracted", chunk_id))
        own = run_metrics_from_extracted(chunk, "r1", chunk_id)
        assert sorted(r for r in rows if r["chunk_id"] == chunk_id) == sorted(own.collect())


def test_four_in_flight_failure_manifest_consistent(spark, pages, tmp_path_factory):
    """>=4 chunks in flight with an injected mid-flight failure: the
    manifest must stay consistent (every committed path readable),
    fail-fast must cancel the queued tail, and a concurrent resume must
    complete to the exact single-run output."""
    from text_extraction_evaluation_spark.plans.jobs import (
        ChunkFailure,
        read_extracted,
        run_extraction_job,
    )
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog

    root = str(tmp_path_factory.mktemp("run_par4"))
    with pytest.raises(ChunkFailure):
        run_extraction_job(spark, pages, root, n_buckets=16, buckets_per_chunk=2,
                           fail_after_chunks=3, max_concurrent_chunks=4)
    cat = LocalCatalog(root)
    committed = cat.committed_chunks("extracted")
    # the 3 counted commits are durable; fail-fast cancelled the queued
    # tail (in-flight chunks may still land — never all 8)
    assert 3 <= len(committed) < 8
    for cid in committed:
        assert spark.read.parquet(cat.chunk_path("extracted", cid)).count() > 0  # no torn chunk

    run_extraction_job(spark, pages, root, n_buckets=16, buckets_per_chunk=2,
                       max_concurrent_chunks=4)
    assert len(cat.committed_chunks("extracted")) == 8
    df = read_extracted(spark, root)
    assert df.count() == df.select("url").distinct().count() == pages.count()


def test_vacuum_reclaims_orphan_staging_only(spark, pages, tmp_path_factory):
    """vacuum() removes staging dirs orphaned by hard-killed commit
    attempts and never touches committed chunks; a failed (exception)
    commit cleans its own staging dir without vacuum."""
    import os

    from text_extraction_evaluation_spark.plans.jobs import run_extraction_job
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog

    root = str(tmp_path_factory.mktemp("vacuum"))
    run_extraction_job(spark, pages, root, n_buckets=4, buckets_per_chunk=2)
    cat = LocalCatalog(root)
    before = set(cat.committed_chunks("extracted"))
    assert before

    # a failed attempt must not leak staging (finally-cleanup)
    class Boom(Exception):
        pass

    class _Exploding:
        write = property(lambda self: (_ for _ in ()).throw(Boom()))

    with pytest.raises(Boom):
        cat.commit_append(_Exploding(), "extracted", "bZZZZ-ZZZZ")
    tdir = os.path.join(root, "extracted")
    assert not [p for p in os.listdir(tdir) if ".staging-" in p]

    # simulate a hard-killed attempt: orphan staging dir on disk
    orphan = os.path.join(tdir, "chunk=b9999-9999.staging-deadbeef")
    os.makedirs(orphan)
    removed = cat.vacuum("extracted")
    assert removed == [orphan]
    assert not os.path.exists(orphan)
    assert set(cat.committed_chunks("extracted")) == before
    for cid in cat.committed_chunks("extracted"):
        assert spark.read.parquet(cat.chunk_path("extracted", cid)).count() > 0


def test_vacuum_reclaims_unrecorded_chunk_dirs(spark, pages, tmp_path_factory):
    """A commit killed between its rename and its manifest store leaves
    a ``chunk=<id>`` dir no manifest names; a rerun with another
    bucketing never commits that id again, so vacuum() must reclaim it
    by id, beside staging orphans, and leave every committed chunk."""
    import os

    from text_extraction_evaluation_spark.plans.jobs import (
        read_extracted,
        run_extraction_job,
    )
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog

    root = str(tmp_path_factory.mktemp("vacuum_unrecorded"))
    run_extraction_job(spark, pages, root, n_buckets=4, buckets_per_chunk=2)
    cat = LocalCatalog(root)
    before = set(cat.committed_chunks("extracted"))
    assert before == {"n0004-b0000-0001", "n0004-b0002-0003"}

    tdir = os.path.join(root, "extracted")
    orphans = [os.path.join(tdir, "chunk=n0008-b0000-0003"),
               os.path.join(tdir, "chunk=n0008-b0004-0007.staging-ab")]
    for o in orphans:
        os.makedirs(o)
        open(os.path.join(o, "part-0.parquet"), "wb").close()
    assert sorted(cat.vacuum("extracted")) == orphans
    assert not any(os.path.exists(o) for o in orphans)
    assert set(cat.committed_chunks("extracted")) == before
    assert read_extracted(spark, root).count() == pages.count()
