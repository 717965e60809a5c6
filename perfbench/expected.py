"""The expected ranked report, derived from the pure-Python oracle.

The oracle (``oracle/run_oracle.py``) runs once per seed on the base
corpus. Every page the workload draws is a copy of one base document
under a new url, so the expected report is the oracle's report over the
base score rows repeated by their draw counts.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

import numpy as np
import pandas as pd
from oracle.run_oracle import (
    oracle_extract,
    oracle_extract_bte,
    oracle_extract_density,
    oracle_gold,
    oracle_latest_crawl,
    oracle_pages,
    oracle_report,
    oracle_scores,
)

from text_extraction_evaluation_spark.sources.synth import url_for

ORACLE_EXTRACT = {
    "justext_spark": oracle_extract,
    "textdensity": oracle_extract_density,
    "bte": oracle_extract_bte,
}
COUNT_COLS = ["n_ok", "n_empty", "n_fail"]
F1_TOL = 1e-9


def base_scores(base: pd.DataFrame, extractors: Iterable[str]) -> pd.DataFrame:
    """Oracle score rows of the base corpus, with the base ``doc_id`` of
    each row."""
    latest = oracle_latest_crawl(oracle_pages(base))
    gold = oracle_gold(base)
    doc_of_url = {
        url_for(int(d), s): int(d)
        for d, s in zip(base["doc_id"], base["source"], strict=True)
    }
    frames = []
    for name in extractors:
        scores = oracle_scores(ORACLE_EXTRACT[name](latest), gold, extractor=name)
        scores["doc_id"] = scores["url"].map(doc_of_url)
        frames.append(scores)
    return pd.concat(frames, ignore_index=True)


def expected_report(scores: pd.DataFrame, counts: np.ndarray) -> pd.DataFrame:
    """``oracle_report`` over ``scores`` with each row repeated
    ``counts[doc_id]`` times."""
    reps = counts[scores["doc_id"].to_numpy()]
    return oracle_report(scores.loc[scores.index.repeat(reps)].reset_index(drop=True))


def report_diff(got: Iterable[Mapping], expected: pd.DataFrame) -> list[str]:
    """Rows of ``got`` that differ from ``expected``: counts exactly,
    ``avg_f1`` within F1_TOL. Empty when they agree."""
    want = {(r["extractor"], r["dataset"]): r for r in expected.to_dict("records")}
    have = {(r["extractor"], r["dataset"]): r for r in got}
    diffs = []
    for key in sorted(set(want) | set(have)):
        w, h = want.get(key), have.get(key)
        if w is None or h is None:
            diffs.append(f"{key}: expected {w}, got {h}")
            continue
        bad = [c for c in COUNT_COLS if int(h[c]) != int(w[c])]
        wf, hf = w["avg_f1"], h["avg_f1"]
        if (wf is None or pd.isna(wf)) != (hf is None):
            bad.append("avg_f1")
        elif hf is not None and abs(hf - wf) > F1_TOL:
            bad.append("avg_f1")
        if bad:
            diffs.append(
                f"{key}: " + ", ".join(f"{c} expected {w[c]} got {h[c]}" for c in bad)
            )
    return diffs
