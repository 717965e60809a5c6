"""spark-submit --py-files packaging path (BASELINE.json:6): the
engine zipped by scripts/make_pyfiles.py must run the extraction job
in a FRESH spark-submit process with the repo itself absent from
sys.path — catching anything that only works because the dev checkout
is importable (missing package files in the zip, cwd-relative reads).
"""

from __future__ import annotations

import json
import pathlib
import subprocess

from scripts import make_pyfiles

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_spark_submit_pyfiles_runs_extract_job(tmp_path):
    zip_path = make_pyfiles.build(tmp_path / "dist")
    assert zip_path.exists()

    out = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--driver-memory", "2g",
            "--py-files", str(zip_path),
            str(ROOT / "scripts" / "extract_job.py"),
            "--sf-dir", "/root/testdata/sf0.001",
            "--replicate", "1",
            "--total-cores", "4",
        ],
        capture_output=True, text=True, check=True,
        # neutral cwd: nothing may depend on running from the repo root
        cwd=str(tmp_path),
        timeout=420,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    res = json.loads(line)
    assert res["n_docs"] == 500  # 500 distinct urls after latest-crawl dedup
    assert res["docs_per_sec"] > 0
