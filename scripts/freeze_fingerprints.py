"""Freeze golden fingerprints for the extraction-family driver gates.

Runs the pinned single-process oracle (oracle/run_oracle.py — pandas, no
Spark) at sf0.001, sf0.01 and sf0.1 and prints the order-independent
content fingerprints that plans/q_extraction.py freezes as oracle-SQL
constants:

* extract_text_fingerprint  — 48-bit md5-prefix sum over
  url|lang|status|n_paragraphs|n_good|text per extracted doc
* extract_spans_fingerprint — same over
  url|idx|class_cf|class_final|word_count|heading per span, plus
  floor(1e9 * density) integer sums (exact: span densities are
  bitwise-identical between the oracle and the Spark kernel, see
  tests/test_parity.py::test_spans_parity)
* doc_scores_fingerprint    — same over
  url|extractor|dataset|matched|matched_bow|retrieved|relevant|status
  plus floor(1e9 * metric) sums for the six P/R/F1 doubles
* status_counts             — literal (extractor, dataset, status, n)
* the density and BTE text fingerprints, the extractor ranking, the
  line-clean/boilerplate census, span churn, sign test and bootstrap
  CI constants (the rest of plans/q_extraction.py and
  plans/q_webtext.py's frozen VALUES)

The constants are derived from the single-process oracle, never from
the Spark pipeline. Honest scope (matching oracle/run_oracle.py): the
oracle imports the same algo/ modules (justext, textdensity, bte,
metrics) that the Spark kernels execute, so these gates pin
DISTRIBUTION-LAYER parity — partitioning, Arrow batching, schema,
join/agg plumbing — not independent algorithmic correctness.
Algorithm-level behavior is pinned separately by the rule-level unit tests (tests/test_justext_rules.py,
tests/test_metrics.py) and the hand-built golden cases in
tests/golden/.

Usage: python scripts/freeze_fingerprints.py
"""

from __future__ import annotations

import hashlib
import math
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from oracle.run_oracle import (  # noqa: E402
    oracle_extract,
    oracle_extract_bte,
    oracle_extract_density,
    oracle_gold,
    oracle_latest_crawl,
    oracle_pages,
    oracle_report,
    oracle_scores,
    oracle_spans,
)

SF_DIRS = {
    "sf0.001": "/root/testdata/sf0.001/documents.parquet",
    "sf0.01": "/root/testdata/sf0.01/documents.parquet",
    "sf0.1": "/root/testdata/sf0.1/documents.parquet",
}


def fp48(s: str) -> int:
    """First 12 hex chars of md5 -> 48-bit int (matches the registry's
    conv(substring(md5(x), 1, 12), 16, 10) Spark expression)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)


def q9(x: float) -> int:
    return math.floor(x * 1e9)


def main() -> None:
    import pandas as pd

    for sf, path in SF_DIRS.items():
        docs = pd.read_parquet(path)
        pages = oracle_pages(docs)
        latest = oracle_latest_crawl(pages)
        extracted = oracle_extract(latest)
        spans = oracle_spans(latest)
        scores = oracle_scores(extracted, oracle_gold(docs))
        n_docs = len(docs)

        t_fp = sum(
            fp48("|".join([r.url, r.lang, r.status, str(r.n_paragraphs),
                           str(r.n_good), r.text or ""]))
            for r in extracted.itertuples()
        )
        print(f"# {sf}: n_docs={n_docs}")
        print(f"TEXT_FP[{n_docs}] = ({len(extracted)}, {t_fp})")

        s_fp = sum(
            fp48("|".join([r.url, str(r.idx), r.class_cf, r.class_final,
                           str(r.word_count), str(int(r.heading)), r.text]))
            for r in spans.itertuples()
        )
        s_ld = sum(q9(r.link_density) for r in spans.itertuples())
        s_sd = sum(q9(r.stopword_density) for r in spans.itertuples())
        print(f"SPANS_FP[{n_docs}] = ({len(spans)}, {s_fp}, {s_ld}, {s_sd})")

        # line-dedup stage 2 (line_dedup_clean): census over span
        # lines (distinct-url df >= threshold), then the kept-corpus
        # fingerprint after dropping every flagged line
        from text_extraction_evaluation_spark.plans.q_webtext import (
            LINE_DF_THRESHOLD,
        )

        df_counts = spans.groupby("text")["url"].nunique()
        hot = set(df_counts[df_counts >= LINE_DF_THRESHOLD].index)
        is_hot = spans["text"].isin(hot)
        lc_fp = sum(
            fp48(f"{r.url}|{r.idx}|{r.text}")
            for r in spans[~is_hot].itertuples()
        )
        print(
            f"LINE_CLEAN[{n_docs}] = ({len(spans)}, {int((~is_hot).sum())}, "
            f"{int(is_hot.sum())}, {spans.loc[is_hot, 'url'].nunique()}, {lc_fp})"
        )

        # boilerplate_line_census: the two template lines whose GOOD-leak
        # count is data-dependent (jusText heading rescue / neargood
        # smoothing promote them next to good content on a per-doc
        # basis). Every other template line's (n_urls, n_occurrences,
        # leaks=0) is a closed form over the variant census — only these
        # two need frozen oracle constants (plans/q_webtext.py).
        from text_extraction_evaluation_spark.sources.synth import (
            _NEARGOOD_BP,
        )

        ng_line = _NEARGOOD_BP[3:-4]  # strip <p> </p>
        leak_rows = []
        for line in ["section intro", ng_line]:
            g = spans[spans["text"] == line]
            leak_rows.append(
                (line[:20], g["url"].nunique(), len(g),
                 int((g["class_final"] == "good").sum()))
            )
        print(f"BOILERPLATE_LEAKS[{n_docs}] = {leak_rows}")

        c_fp = sum(
            fp48("|".join([r.url, r.extractor, r.dataset, str(r.matched),
                           str(r.matched_bow), str(r.retrieved),
                           str(r.relevant), r.status]))
            for r in scores.itertuples()
        )
        sums = [
            sum(q9(getattr(r, c)) for r in scores.itertuples())
            for c in ["precision", "recall", "f1",
                      "precision_bow", "recall_bow", "f1_bow"]
        ]
        print(f"SCORES_FP[{n_docs}] = ({len(scores)}, {c_fp}, {sums})")

        sc = (
            scores.groupby(["extractor", "dataset", "status"])
            .size()
            .reset_index(name="n_docs")
            .sort_values(["extractor", "dataset", "status"])
        )
        rows = [
            (r.extractor, r.dataset, r.status, int(r.n_docs))
            for r in sc.itertuples()
        ]
        print(f"STATUS_COUNTS[{n_docs}] = {rows}")

        # worst-k ok-docs per (extractor, dataset), ordered (f1 asc, url)
        ok = scores[scores["status"] == "ok"].sort_values(
            ["extractor", "dataset", "f1", "url"], kind="mergesort"
        )
        worst = ok.groupby(["extractor", "dataset"]).head(10).copy()
        worst["worst_rank"] = worst.groupby(["extractor", "dataset"]).cumcount() + 1
        wrows = [
            (r.extractor, r.dataset, int(r.worst_rank), r.url,
             repr(float(r.f1)), repr(float(r.precision)), repr(float(r.recall)))
            for r in worst.itertuples()
        ]
        print("WORST_DOCS = [")
        for w in wrows:
            print(f"  {w},")
        print("]")

        # second extractor: densometric rules fingerprint + the
        # cross-extractor ranking (integers/strings only)
        dens = oracle_extract_density(latest)
        d_fp = sum(
            fp48("|".join([r.url, r.lang, r.status, str(r.n_paragraphs),
                           str(r.n_good), r.text or ""]))
            for r in dens.itertuples()
        )
        print(f"DENSITY_FP[{n_docs}] = ({len(dens)}, {d_fp})")

        # third extractor: BTE maximum-subarray window fingerprint
        bte = oracle_extract_bte(latest)
        b_fp = sum(
            fp48("|".join([r.url, r.lang, r.status, str(r.n_paragraphs),
                           str(r.n_good), r.text or ""]))
            for r in bte.itertuples()
        )
        print(f"BTE_FP[{n_docs}] = ({len(bte)}, {b_fp})")

        dscores = oracle_scores(dens, oracle_gold(docs), extractor="textdensity")
        bscores = oracle_scores(bte, oracle_gold(docs), extractor="bte")
        both = pd.concat([scores, dscores, bscores], ignore_index=True)
        rep = oracle_report(both)
        rep = rep.sort_values(
            ["dataset", "avg_f1", "extractor"], ascending=[True, False, True]
        )
        rep["rank"] = rep.groupby("dataset").cumcount() + 1
        rrows = [
            (r.dataset, int(r.rank), r.extractor, int(r.n_ok), int(r.n_empty),
             int(r.n_fail))
            for r in rep.itertuples()
        ]
        print("EXTRACTOR_RANKING = [")
        for rw in rrows:
            print(f"  {rw},")
        print("]")

        # crawl-over-crawl span churn census: oldest vs newest crawl
        # per recrawled url, paragraph-multiset diff, summed per
        # dataset (twin of plans.q_extraction.span_churn_census)
        from collections import Counter

        dup_urls = pages["url"].value_counts()
        dup_urls = set(dup_urls[dup_urls >= 2].index)
        dups = pages[pages["url"].isin(dup_urls)].sort_values(
            ["url", "warc_ts"], kind="mergesort"
        )
        oldest = dups.groupby("url", as_index=False).head(1)
        newest = dups.groupby("url", as_index=False).tail(1)
        sp_old = oracle_spans(oldest)
        sp_new = oracle_spans(newest)
        gold = oracle_gold(docs)
        url_ds = dict(zip(gold["url"], gold["dataset"], strict=True))
        census: dict[str, list[int]] = {}
        for url in sorted(dup_urls):
            ca = Counter(sp_old[sp_old["url"] == url]["text"])
            cb = Counter(sp_new[sp_new["url"] == url]["text"])
            common = sum((ca & cb).values())
            n_old = sum(ca.values())
            n_new = sum(cb.values())
            d = census.setdefault(url_ds[url], [0, 0, 0, 0, 0, 0])
            d[0] += 1
            d[1] += n_old
            d[2] += n_new
            d[3] += common
            d[4] += n_new - common
            d[5] += n_old - common
        churn_rows = [
            (ds, *vals) for ds, vals in sorted(census.items())
        ]
        print(f"SPAN_CHURN[{n_docs}] = {churn_rows}")

        # paired sign test between the extractors over both-ok docs:
        # (dataset, n_paired, wins, losses, ties, z_q6); z is
        # (w-l)/sqrt(w+l) in micro-units — irrational unless w==l
        # (then exactly 0), so rounding mode cannot matter
        jp = scores[scores["status"] == "ok"][["url", "dataset", "f1"]]
        dp = dscores[dscores["status"] == "ok"][["url", "dataset", "f1"]]
        m = jp.merge(dp, on=["url", "dataset"], suffixes=("_j", "_d"))
        srows = []
        for ds, g in m.groupby("dataset"):
            w = int((g["f1_j"] > g["f1_d"]).sum())
            lo = int((g["f1_d"] > g["f1_j"]).sum())
            t = int((g["f1_j"] == g["f1_d"]).sum())
            nd = w + lo
            z = round((w - lo) / math.sqrt(nd) * 1e6) if nd else 0
            srows.append((ds, len(g), w, lo, t, z))
        print(f"SIGN_TEST[{n_docs}] = {srows}")

        # Poisson-bootstrap CI over the paired per-doc F1 diff —
        # integer-exact twin of plans.q_extraction.extractor_bootstrap_ci:
        # floored micro-unit diffs, literal Poisson(1) thresholds on a
        # 48-bit md5 uniform, truncating bigint division per replicate.
        from text_extraction_evaluation_spark.plans.q_extraction import (
            _BOOT_B,
            _BOOT_HI_RANK,
            _BOOT_LO_RANK,
            _BOOT_THRESH,
        )

        def tdiv(a: int, b: int) -> int:
            q = abs(a) // abs(b)
            return -q if (a < 0) != (b < 0) else q

        def u48(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

        brows = []
        for ds, g in m.groupby("dataset"):
            d_q6 = {
                url: math.floor((fj - fd) * 1e6)
                for url, fj, fd in zip(g["url"], g["f1_j"], g["f1_d"], strict=True)
            }
            point = tdiv(sum(d_q6.values()), len(d_q6))
            means = []
            for b in range(_BOOT_B):
                sum_wd = sum_w = 0
                for url, dq in d_q6.items():
                    u = u48(f"boot:{url}:{b}")
                    w = sum(1 for t in _BOOT_THRESH if t <= u)
                    sum_wd += w * dq
                    sum_w += w
                means.append(tdiv(sum_wd, sum_w) if sum_w > 0 else 0)
            srt = sorted(means)
            brows.append((
                ds, len(d_q6), _BOOT_B, point,
                srt[_BOOT_LO_RANK - 1], srt[_BOOT_HI_RANK - 1],
                sum(1 for v in means if v > 0),
            ))
        print(f"BOOTSTRAP_CI[{n_docs}] = {brows}")

        # exact-integer report: per (extractor, dataset) status counts,
        # floor(1e9 * metric) sums over ok docs, and micro token counters
        # — the flagship report in a driver-hashable (all-integer) form
        erows = []
        for (ex, ds), grp in both.groupby(["extractor", "dataset"]):
            ok = grp[grp["status"] == "ok"]
            erows.append((
                ex, ds, len(ok),
                int((grp["status"] == "empty").sum()),
                int((~grp["status"].isin(["ok", "empty"])).sum()),
                sum(q9(v) for v in ok["precision"]),
                sum(q9(v) for v in ok["recall"]),
                sum(q9(v) for v in ok["f1"]),
                int(grp["matched"].sum()), int(grp["retrieved"].sum()),
                int(grp["relevant"].sum()),
            ))
        print("REPORT_EXACT = [")
        for rw in sorted(erows):
            print(f"  {rw},")
        print("]")
        print()


if __name__ == "__main__":
    main()
