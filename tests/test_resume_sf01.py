"""Resume at bench scale: the chunked extraction job over the sf0.1
seed corpus (the scale bench.py measures), killed after k chunk
commits and resumed — final table byte-identical to one uninterrupted
run, no url extracted twice, lineage covers every committed chunk.
The sf0.001 twins in test_resume.py prove the semantics; this proves
the orchestration holds at the scale the driver benches."""

from __future__ import annotations

import pytest

SF01 = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def pages_sf01(spark):
    from text_extraction_evaluation_spark.operators.extract import latest_crawl
    from text_extraction_evaluation_spark.sources.readers import pages_df

    return latest_crawl(pages_df(spark, SF01, n_partitions=8)).cache()


def test_resume_sf01_matches_single_run(spark, pages_sf01, tmp_path_factory):
    from text_extraction_evaluation_spark.plans.jobs import (
        ChunkFailure,
        read_extracted,
        read_run_metrics,
        run_extraction_job,
    )
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog

    root_a = str(tmp_path_factory.mktemp("sf01_resumed"))
    root_b = str(tmp_path_factory.mktemp("sf01_single"))

    with pytest.raises(ChunkFailure):
        run_extraction_job(spark, pages_sf01, root_a, n_buckets=8,
                           buckets_per_chunk=2, fail_after_chunks=2)
    cat = LocalCatalog(root_a)
    assert len(cat.committed_chunks("extracted")) == 2

    run_extraction_job(spark, pages_sf01, root_a, n_buckets=8,
                       buckets_per_chunk=2)
    assert len(cat.committed_chunks("extracted")) == 4

    run_extraction_job(spark, pages_sf01, root_b, n_buckets=8,
                       buckets_per_chunk=2)

    a = read_extracted(spark, root_a)
    b = read_extracted(spark, root_b)
    n_pages = pages_sf01.count()
    # no url twice, none lost
    assert a.count() == a.select("url").distinct().count() == n_pages
    # byte-identical resumed vs single-run output (anti-join both ways
    # on every column stays distributed — no driver-side dict at sf0.1)
    cols = ["url", "text", "status"]
    diff = (
        a.select(cols).exceptAll(b.select(cols)).count()
        + b.select(cols).exceptAll(a.select(cols)).count()
    )
    assert diff == 0

    # lineage metrics cover every committed chunk of the resumed run
    chunk_ids = read_run_metrics(spark, root_a).select("chunk_id").distinct().collect()
    assert len(chunk_ids) == 4
