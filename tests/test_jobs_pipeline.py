"""End-to-end pipeline job tests: score/report through the catalog,
no report over a partial extraction, natural stoplists on
real-language HTML."""

from __future__ import annotations

import pytest

from tests.conftest import SF0001


def test_extract_then_score_job(spark, tmp_path_factory):
    from text_extraction_evaluation_spark.operators.extract import latest_crawl
    from text_extraction_evaluation_spark.plans.jobs import (
        run_extraction_job,
        run_score_job,
    )
    from text_extraction_evaluation_spark.plans.report_sinks import write_all
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog
    from text_extraction_evaluation_spark.sources.readers import gold_df, pages_df

    root = str(tmp_path_factory.mktemp("e2e"))
    pages = latest_crawl(pages_df(spark, SF0001, n_partitions=8))
    run_extraction_job(spark, pages, root, n_buckets=4, buckets_per_chunk=2)
    run_score_job(spark, root, gold_df(spark, SF0001))

    cat = LocalCatalog(root)
    scores = cat.read(spark, "scores")
    report = cat.read(spark, "report")
    assert scores.count() == 500
    rows = {r["dataset"]: r for r in report.collect()}
    assert set(rows) == {"cleaneval", "googlenews"}
    for r in rows.values():
        assert 0.9 < r["avg_f1"] <= 1.0
        assert r["rank"] == 1

    # idempotent re-run
    run_score_job(spark, root, gold_df(spark, SF0001))
    assert cat.read(spark, "scores").count() == 500

    paths = write_all(report, f"{root}/artifacts")
    assert open(paths["chart"]).read().startswith("<svg")


def test_score_job_refuses_a_partial_extraction(spark, tmp_path):
    """A score run over the chunks a failed run left raises and commits
    nothing (a ``full`` report of the partial output would be returned
    by every later run); after a resume, under a finer bucketing that
    nests in the first or under one that does not, every url is
    extracted once, no chunk is committed empty, and the report covers
    every url that both the extraction and gold hold."""
    from text_extraction_evaluation_spark.operators.extract import latest_crawl
    from text_extraction_evaluation_spark.plans.jobs import (
        ChunkFailure,
        read_extracted,
        run_extraction_job,
        run_score_job,
    )
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog
    from text_extraction_evaluation_spark.sources.readers import gold_df, pages_df

    root = str(tmp_path)
    pages = latest_crawl(pages_df(spark, SF0001, n_partitions=8))
    gold = gold_df(spark, SF0001)
    with pytest.raises(ChunkFailure):
        run_extraction_job(spark, pages, root, n_buckets=4, buckets_per_chunk=2,
                           fail_after_chunks=1)
    with pytest.raises(RuntimeError, match="incomplete extraction"):
        run_score_job(spark, root, gold)
    cat = LocalCatalog(root)
    assert cat.committed_chunks("scores") == {} == cat.committed_chunks("report")

    def resumed_report_covers_every_url(root: str, n_buckets: int) -> None:
        run_extraction_job(spark, pages, root, n_buckets=n_buckets, buckets_per_chunk=2)
        df = read_extracted(spark, root)
        assert df.count() == df.select("url").distinct().count() == pages.count()
        cat = LocalCatalog(root)
        assert all(
            spark.read.parquet(cat.chunk_path("extracted", cid)).count() >= 1
            for cid in cat.committed_chunks("extracted")
        )
        run_score_job(spark, root, gold)
        report = LocalCatalog(root).read(spark, "report").collect()
        n_scored = sum(r["n_ok"] + r["n_empty"] + r["n_fail"] for r in report)
        assert n_scored == read_extracted(spark, root).join(gold, "url").count()

    resumed_report_covers_every_url(root, 8)
    # the first run's buckets 0-1 of 4 are buckets 0, 1, 4 and 5 of 8,
    # so the resume skips those two chunks instead of committing them empty
    committed = LocalCatalog(root).committed_chunks("extracted")
    assert "n0008-b0000-0001" not in committed
    assert "n0008-b0004-0005" not in committed

    other = str(tmp_path / "not_nested")
    with pytest.raises(ChunkFailure):
        run_extraction_job(spark, pages, other, n_buckets=4, buckets_per_chunk=2,
                           fail_after_chunks=1)
    resumed_report_covers_every_url(other, 6)


def test_natural_stoplists_on_real_language_page(spark):
    from text_extraction_evaluation_spark.algo.justext import extract_text
    from text_extraction_evaluation_spark.algo.stoplists import NATURAL_STOPLISTS

    body = (
        "the quick brown fox is one of the animals that will be seen in the "
        "park and it is known for jumping over the lazy dog when the sun is "
        "out and the weather is warm so people like to watch it with their "
        "children because it is a nice thing to do on a sunday afternoon"
    )
    html = (
        "<body><div><a href='/'>home</a> <a href='/x'>news</a></div>"
        f"<p>{body}</p>"
        "<div>© 2024 portal</div></body>"
    )
    res = extract_text(html, "en", stoplists=NATURAL_STOPLISTS)
    assert res.status == "ok"
    assert res.text == body

    # same page under the synthetic lists would be dropped (no corpus
    # stopwords present) — proving the stoplist actually gates class
    res_synth = extract_text(html, "en")
    assert res_synth.text == ""
