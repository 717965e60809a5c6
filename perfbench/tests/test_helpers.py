"""Tests for the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import proctree  # noqa: E402
from expected import expected_report, report_diff  # noqa: E402
from stats import (  # noqa: E402
    covered,
    empty_frac,
    macro_f1,
    macro_f1_all,
    median,
    self_time,
    summarize,
    tail_percentile,
)

ROWS = [
    {"extractor": "a", "dataset": "x", "avg_f1": 0.8, "n_ok": 6, "n_empty": 2, "n_fail": 0},
    {"extractor": "b", "dataset": "x", "avg_f1": 0.5, "n_ok": 4, "n_empty": 0, "n_fail": 4},
]


def test_quality_metrics_from_report_rows():
    assert macro_f1(ROWS) == pytest.approx((0.8 + 0.5) / 2)
    # empty and failed documents count as F1 = 0
    assert macro_f1_all(ROWS) == pytest.approx((0.8 * 6 / 8 + 0.5 * 4 / 8) / 2)
    assert empty_frac(ROWS) == pytest.approx(2 / 16)


def test_macro_f1_all_treats_missing_avg_as_zero():
    rows = [{"avg_f1": None, "n_ok": 0, "n_empty": 3, "n_fail": 0}]
    assert macro_f1_all(rows) == 0.0
    assert empty_frac(rows) == 1.0


def _scores(doc_ids, statuses, f1s, extractor="a", dataset="x"):
    n = len(doc_ids)
    return pd.DataFrame(
        {
            "url": [f"u{d}" for d in doc_ids],
            "extractor": [extractor] * n,
            "dataset": [dataset] * n,
            "precision": f1s,
            "recall": f1s,
            "f1": f1s,
            "status": statuses,
            "doc_id": doc_ids,
        }
    )


def test_expected_report_weights_rows_by_draw_counts():
    scores = _scores([0, 1, 2, 3], ["ok", "ok", "empty", "ok"], [1.0, 0.5, 0.0, 0.2])
    counts = np.array([3, 1, 2, 0])  # doc 3 never drawn
    rep = expected_report(scores, counts).iloc[0]
    assert (rep["n_ok"], rep["n_empty"], rep["n_fail"]) == (4, 2, 0)
    assert rep["avg_f1"] == pytest.approx((3 * 1.0 + 0.5) / 4)


def test_expected_report_equals_report_of_explicit_copies():
    from oracle.run_oracle import oracle_report

    scores = pd.concat(
        [
            _scores([0, 1, 2], ["ok", "no_gold", "ok"], [0.9, 0.0, 0.3], "a", "x"),
            _scores([0, 1, 2], ["ok", "ok", "empty"], [0.4, 0.7, 0.0], "b", "y"),
        ],
        ignore_index=True,
    )
    counts = np.array([2, 1, 3])
    copies = pd.concat(
        [scores[scores["doc_id"] == d] for d in range(3) for _ in range(counts[d])],
        ignore_index=True,
    )
    got = expected_report(scores, counts)
    assert report_diff(got.to_dict("records"), oracle_report(copies)) == []


def test_report_diff_flags_count_and_f1_mismatches():
    expected = pd.DataFrame(ROWS)
    assert report_diff(ROWS, expected) == []
    near = [dict(ROWS[0], avg_f1=0.8 + 1e-12), ROWS[1]]
    assert report_diff(near, expected) == []
    bad = [dict(ROWS[0], n_ok=5), dict(ROWS[1], avg_f1=0.5 + 1e-6)]
    diffs = report_diff(bad, expected)
    assert len(diffs) == 2 and "n_ok" in diffs[0] and "avg_f1" in diffs[1]
    assert len(report_diff(ROWS[:1], expected)) == 1  # missing row


def test_median_and_tail_percentile():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    # fewer than 20 samples: not even the median has 10 beyond it
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(1, 21))) == (50.0, 10)
    # 100 samples: p90 leaves exactly 10 beyond, p99 only 1
    assert tail_percentile(list(range(1, 101))) == (90.0, 90)
    # 1000 samples: p99 leaves 10 beyond
    assert tail_percentile(list(range(1, 1001))) == (99.0, 990)
    assert summarize([5.0, 1.0, 3.0]) == {"n": 3, "median": 3.0}
    assert summarize(list(range(1, 101)))["p90"] == 90


def test_self_time_subtracts_union_of_overlapping_children():
    # parent [0, 10]; children overlap ([1,4] and [3,6]) and one sticks out
    children = [(1.0, 4.0), (3.0, 6.0), (8.0, 12.0)]
    assert covered(children, 0.0, 10.0) == pytest.approx(5.0 + 2.0)
    assert self_time(0.0, 10.0, children) == pytest.approx(3.0)
    assert self_time(0.0, 10.0, []) == 10.0
    # nested and identical children count once
    assert self_time(0.0, 4.0, [(1.0, 3.0), (1.5, 2.0), (1.0, 3.0)]) == pytest.approx(2.0)


def _fake_proc(root, pid, ppid, utime, stime, cutime, cstime, hwm_kb, comm="java"):
    d = root / str(pid)
    d.mkdir()
    fields = ["S", str(ppid)] + ["0"] * 9 + [str(utime), str(stime), str(cutime), str(cstime)]
    fields += ["0"] * 30
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(fields) + "\n")
    status = f"Name:\t{comm}\nVmPeak:\t 99999 kB\n"
    if hwm_kb is not None:
        status += f"VmHWM:\t {hwm_kb} kB\nVmRSS:\t 1 kB\n"
    (d / "status").write_text(status)


def test_proc_tree_walk_sums_descendants_only(tmp_path):
    _fake_proc(tmp_path, 10, 1, 100, 20, 5, 1, 1000, comm="python3")
    _fake_proc(tmp_path, 11, 10, 300, 30, 0, 0, 2000, comm="java (gc) x")  # spaces, parens
    _fake_proc(tmp_path, 12, 11, 50, 5, 0, 0, 500)
    _fake_proc(tmp_path, 13, 12, 7, 3, 0, 0, None)  # zombie: no VmHWM
    _fake_proc(tmp_path, 20, 1, 999, 999, 0, 0, 99999)  # unrelated process
    (tmp_path / "self").mkdir()  # non-numeric entries are ignored
    assert sorted(p.pid for p in proctree.tree(10, str(tmp_path))) == [10, 11, 12, 13]
    cpu = proctree.cpu_seconds(10, str(tmp_path), ticks=100)
    assert cpu == pytest.approx((126 + 330 + 55 + 10) / 100)
    assert proctree.peak_rss_mb(10, str(tmp_path)) == pytest.approx(3500 * 1024 / 1e6)
    assert proctree.tree(99, str(tmp_path)) == []


def test_proc_tree_on_this_process():
    procs = proctree.tree(os.getpid())
    assert procs and procs[0].pid == os.getpid()
    assert proctree.cpu_seconds(os.getpid()) > 0
    assert proctree.peak_rss_mb(os.getpid()) > 1
