"""spark-submit --py-files packaging path (BASELINE.json:6): the
engine zipped by scripts/make_pyfiles.py must run the pipeline CLI
(scripts/run_pipeline.py: extraction job, catalog commits, score job,
report sinks) in a FRESH spark-submit process with the repo itself
absent from sys.path — catching anything that only works because the
dev checkout is importable (missing package files in the zip,
cwd-relative reads).
"""

from __future__ import annotations

import json
import pathlib
import subprocess

from pyspark.sql import functions as F

from scripts import make_pyfiles
from tests.conftest import SF0001

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_spark_submit_pyfiles_runs_extract_job(spark, tmp_path):
    from text_extraction_evaluation_spark.plans.jobs import read_extracted

    zip_path = make_pyfiles.build(tmp_path / "dist")
    assert zip_path.exists()
    out_root = tmp_path / "out"

    out = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--driver-memory", "2g",
            "--py-files", str(zip_path),
            str(ROOT / "scripts" / "run_pipeline.py"),
            "--sf-dir", SF0001,
            "--out", str(out_root),
        ],
        capture_output=True, text=True, check=True,
        # neutral cwd: nothing may depend on running from the repo root
        cwd=str(tmp_path),
        timeout=420,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    res = json.loads(line)
    assert res["report_rows"] == 2
    extracted = read_extracted(spark, str(out_root))
    # 500 distinct urls after latest-crawl dedup
    assert extracted.agg(F.countDistinct("url")).first()[0] == 500
