"""LocalCatalog's read contract: a snapshot read loads exactly the
chunks the manifest names, never what a directory listing would find,
and opening a catalog to read creates nothing on disk."""

from __future__ import annotations

import os

from text_extraction_evaluation_spark.plans.jobs import read_extracted
from text_extraction_evaluation_spark.sources.catalog import LocalCatalog

SCHEMA = "id long, tag string"


def _df(spark, ids, tag):
    return spark.createDataFrame([(i, tag) for i in ids], SCHEMA)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _data_files(path):
    return {f for f in os.listdir(path) if f.startswith("part-")}


def test_read_of_absent_root_creates_nothing(spark, tmp_path):
    absent = tmp_path / "absent"
    assert read_extracted(spark, str(absent)) is None
    assert not absent.exists()


def test_snapshot_read_ignores_uncommitted_dirs(spark, tmp_path):
    cat = LocalCatalog(tmp_path)
    assert cat.commit_append(_df(spark, [1, 2], "c0"), "t", "c0")
    assert cat.commit_append(_df(spark, [3], "c1"), "t", "c1")
    committed = [(1, "c0"), (2, "c0"), (3, "c1")]

    # what a hard kill can leave behind: a chunk dir renamed into place
    # but never entered in the manifest, and a commit's staging dir
    leftover = cat.chunk_path("t", "c2")
    _df(spark, [90, 91], "leftover").write.parquet(leftover)
    staging = f"{cat.chunk_path('t', 'c3')}.staging-deadbeef"
    _df(spark, [92], "staging").write.parquet(staging)
    leftover_files = _data_files(leftover)
    assert leftover_files

    assert _rows(cat.read(spark, "t")) == committed

    # committing the leftover's chunk id replaces its files
    assert cat.commit_append(_df(spark, [4], "c2"), "t", "c2")
    assert not leftover_files & _data_files(leftover)
    assert _rows(cat.read(spark, "t")) == committed + [(4, "c2")]


def test_read_of_copied_root_uses_its_own_chunks(spark, tmp_path):
    """A root copied elsewhere, with the original removed, still reads
    every committed row: chunk paths come from root + table + id, not
    from a path the manifest recorded at commit time."""
    import datetime
    import shutil

    from text_extraction_evaluation_spark.plans.jobs import (
        CHUNK_SCHEMA,
        read_run_metrics,
    )

    ts = datetime.datetime(2024, 1, 1)

    def chunk(urls, bucket):
        rows = [(u, ts, "en", "t", 1, 1, "ok", None, 0, 10, 1.0, 2.0, bucket) for u in urls]
        return spark.createDataFrame(rows, CHUNK_SCHEMA)

    a, b = tmp_path / "a", tmp_path / "b"
    cat = LocalCatalog(a)
    assert cat.commit_append(chunk(["u1", "u2"], 0), "extracted", "c0", meta={"run_id": "r1"})
    assert cat.commit_append(chunk(["u3"], 1), "extracted", "c1", meta={"run_id": "r1"})
    shutil.copytree(a, b)
    shutil.rmtree(a)

    got = LocalCatalog(b).read(spark, "extracted")
    assert sorted(r["url"] for r in got.collect()) == ["u1", "u2", "u3"]
    metrics = read_run_metrics(spark, str(b)).collect()
    assert sorted((r["chunk_id"], r["n_docs"]) for r in metrics) == [("c0", 2), ("c1", 1)]
