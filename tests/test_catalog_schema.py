"""LocalCatalog records each chunk's schema in its manifest: reads are
typed from the manifest (no parquet-footer inference job), and a legacy
manifest without recorded schemas still reads the same rows."""

from __future__ import annotations

import datetime as dt
import json

from tests.conftest import spark_job_ids
from text_extraction_evaluation_spark.sources.catalog import LocalCatalog

SCHEMA = "id long, name string, ts timestamp, raw binary, score double"


def _commit_chunks(spark, cat):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    for i in range(3):
        rows = [
            (i * 10 + k, f"n{i}{k}", t0 + dt.timedelta(hours=k), bytes([i, k]), k / 3)
            for k in range(4)
        ]
        rows.append((i * 10 + 9, None, None, None, None))
        cat.commit_append(spark.createDataFrame(rows, SCHEMA), "t", f"c{i}")


def _strip_schemas(cat, table):
    path = cat.root / table / "_manifest.json"
    manifest = json.loads(path.read_text())
    for c in manifest["chunks"].values():
        c.pop("schema")
    path.write_text(json.dumps(manifest))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_recorded_schema_read_matches_legacy_read(spark, tmp_path):
    cat = LocalCatalog(tmp_path)
    _commit_chunks(spark, cat)
    assert all("schema" in c for c in cat.committed_chunks("t").values())
    typed = cat.read(spark, "t")
    typed_rows, typed_schema = _rows(typed), typed.schema

    _strip_schemas(cat, "t")
    legacy = cat.read(spark, "t")
    assert _rows(legacy) == typed_rows
    assert legacy.schema == typed_schema
    assert len(typed_rows) == 15


def test_read_with_recorded_schema_launches_no_job(spark, tmp_path):
    cat = LocalCatalog(tmp_path)
    _commit_chunks(spark, cat)
    with spark_job_ids(spark) as jobs:
        cat.read(spark, "t")
    assert jobs == []

    # legacy manifest: the read falls back to footer inference
    _strip_schemas(cat, "t")
    with spark_job_ids(spark) as jobs:
        cat.read(spark, "t")
    assert len(jobs) >= 1
