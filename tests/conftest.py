from __future__ import annotations

import uuid
from collections.abc import Iterator
from contextlib import contextmanager

import pandas as pd
import pytest

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from text_extraction_evaluation_spark.sources.readers import get_spark

    s = get_spark("tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def docs_pdf() -> pd.DataFrame:
    return pd.read_parquet(f"{SF0001}/documents.parquet")


@contextmanager
def spark_job_ids(spark) -> Iterator[list[int]]:
    """Collect the ids of every Spark job launched inside the block
    (its own job group, read back from ``statusTracker()`` on exit)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
