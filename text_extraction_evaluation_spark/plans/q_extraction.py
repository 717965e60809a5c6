"""Extraction-family driver gates (golden fingerprints), extractor
ranking, corpus profiling and the pivot/map surfaces.

Split out of plans/queries.py (round 3)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window  # noqa: F401 — used in window queries

from .common import _t


# ---------------------------------------------------------------------------
# Golden-fingerprint gates for the non-SQL-expressible extraction family.
#
# jusText extraction / LCS scoring cannot be expressed in SQL, so their
# driver gate is an order-independent content fingerprint: a 48-bit
# md5-prefix sum over every row's key fields (+ floor(1e9*x) integer
# sums for the per-span/per-doc doubles, which are bitwise-identical
# between the oracle and the Spark kernel — tests/test_parity.py). The
# oracle side is a frozen constant computed by the pinned pure-Python
# oracle (scripts/freeze_fingerprints.py -> oracle/run_oracle.py),
# never from Spark — so any Spark-side drift (Arrow round-trip, dedup
# window, encoding sniff, partitioning) shows up as a driver hash
# mismatch. Constants are keyed on the fixture scale via
# (SELECT COUNT(*) FROM events): 1000 = sf0.001, 10000 = sf0.01 (both
# document corpora have 500 docs, so doc count cannot key them).
# ---------------------------------------------------------------------------


def _fp48(col: Column) -> Column:
    """48-bit md5-prefix fingerprint (sum-safe in bigint up to ~30k rows
    per fixture; the Python twin is int(md5(s).hexdigest()[:12], 16))."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")


def _q9(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(1e9)).cast("bigint")


def _extracted(
    spark: SparkSession, sf_dir: str, extractor: str = "justext_spark"
) -> DataFrame:
    """Latest-crawl pages of ``sf_dir`` through one extractor's kernel
    (``justext_spark``, ``textdensity`` or ``bte``), lineage columns
    dropped."""
    from ..operators.extract import (
        extract_pages,
        extract_pages_bte,
        extract_pages_density,
        extracted_clean,
        latest_crawl,
    )
    from ..sources.readers import pages_df

    extract = {
        "justext_spark": extract_pages,
        "textdensity": extract_pages_density,
        "bte": extract_pages_bte,
    }[extractor]
    pages = pages_df(spark, sf_dir, n_partitions=16)
    return extracted_clean(extract(latest_crawl(pages)))


def _scored_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score rows of all three extractors over the same latest-crawl
    pages and gold: jusText, then density, then BTE."""
    from ..operators.score import score_extracted
    from ..sources.readers import gold_df

    gold = gold_df(spark, sf_dir)
    j, d, b = (
        score_extracted(_extracted(spark, sf_dir, ex), gold, extractor=ex)
        for ex in ("justext_spark", "textdensity", "bte")
    )
    return j.unionByName(d).unionByName(b)


def _text_fingerprint(spark: SparkSession, sf_dir: str, extractor: str) -> DataFrame:
    """One row for one extractor: row count and fingerprint sum
    over url|lang|status|n_paragraphs|n_good|text."""
    key = F.concat_ws(
        "|",
        "url",
        "lang",
        "status",
        F.col("n_paragraphs").cast("string"),
        F.col("n_good").cast("string"),
        F.coalesce(F.col("text"), F.lit("")),
    )
    return _extracted(spark, sf_dir, extractor).agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum(_fp48(key)).alias("fp_sum")
    )


def extract_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-parity of the full extraction pipeline as one driver row:
    fingerprint over url|lang|status|n_paragraphs|n_good|text."""
    return _text_fingerprint(spark, sf_dir, "justext_spark")


_TEXT_FP_SQL = """
SELECT n_rows, fp_sum FROM (VALUES
  (1000,  CAST(500 AS BIGINT), CAST(70158527454893740 AS BIGINT)),
  (10000, CAST(500 AS BIGINT), CAST(69798393735633324 AS BIGINT)),
  (100000, CAST(5000 AS BIGINT), CAST(694371138262639524 AS BIGINT))
) t(n_events, n_rows, fp_sum)
WHERE n_events = (SELECT COUNT(*) FROM events)
"""


def extract_spans_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level parity as one driver row: fingerprint over
    url|idx|class_cf|class_final|word_count|heading plus quantized
    density sums."""
    from ..operators.extract import extract_spans, latest_crawl
    from ..sources.readers import pages_df

    spans = extract_spans(latest_crawl(pages_df(spark, sf_dir, n_partitions=16)))
    key = F.concat_ws(
        "|",
        "url",
        F.col("idx").cast("string"),
        "class_cf",
        "class_final",
        F.col("word_count").cast("string"),
        F.col("heading").cast("int").cast("string"),
        "text",
    )
    return spans.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_fp48(key)).alias("fp_sum"),
        F.sum(_q9("link_density")).alias("ld_q9_sum"),
        F.sum(_q9("stopword_density")).alias("sd_q9_sum"),
    )


_SPANS_FP_SQL = """
SELECT n_rows, fp_sum, ld_q9_sum, sd_q9_sum FROM (VALUES
  (1000,  CAST(3413 AS BIGINT), CAST(475679151384561777 AS BIGINT),
          CAST(1520808857500 AS BIGINT), CAST(528771530360 AS BIGINT)),
  (10000, CAST(3244 AS BIGINT), CAST(457125634549963469 AS BIGINT),
          CAST(1520808857500 AS BIGINT), CAST(448049649062 AS BIGINT)),
  (100000, CAST(33096 AS BIGINT), CAST(4662417058814948669 AS BIGINT),
          CAST(15262088575000 AS BIGINT), CAST(4567498004107 AS BIGINT))
) t(n_events, n_rows, fp_sum, ld_q9_sum, sd_q9_sum)
WHERE n_events = (SELECT COUNT(*) FROM events)
"""


def doc_scores_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LCS/BoW scoring parity as one driver row:
    fingerprint over the integer/string score fields plus quantized
    sums of the six P/R/F1 doubles."""
    from ..operators.score import score_extracted
    from ..sources.readers import gold_df

    scores = score_extracted(_extracted(spark, sf_dir), gold_df(spark, sf_dir))
    key = F.concat_ws(
        "|",
        "url",
        "extractor",
        "dataset",
        F.col("matched").cast("string"),
        F.col("matched_bow").cast("string"),
        F.col("retrieved").cast("string"),
        F.col("relevant").cast("string"),
        "status",
    )
    return scores.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_fp48(key)).alias("fp_sum"),
        F.sum(_q9("precision")).alias("p_q9_sum"),
        F.sum(_q9("recall")).alias("r_q9_sum"),
        F.sum(_q9("f1")).alias("f1_q9_sum"),
        F.sum(_q9("precision_bow")).alias("pb_q9_sum"),
        F.sum(_q9("recall_bow")).alias("rb_q9_sum"),
        F.sum(_q9("f1_bow")).alias("fb_q9_sum"),
    )


_SCORES_FP_SQL = """
SELECT n_rows, fp_sum, p_q9_sum, r_q9_sum, f1_q9_sum, pb_q9_sum, rb_q9_sum, fb_q9_sum
FROM (VALUES
  (1000,  CAST(500 AS BIGINT), CAST(69310761688465331 AS BIGINT),
          CAST(272266938002 AS BIGINT), CAST(266559509428 AS BIGINT),
          CAST(267134691490 AS BIGINT), CAST(272437275957 AS BIGINT),
          CAST(266772245923 AS BIGINT), CAST(267323222762 AS BIGINT)),
  (10000, CAST(500 AS BIGINT), CAST(70349754476732240 AS BIGINT),
          CAST(264560467807 AS BIGINT), CAST(262334017192 AS BIGINT),
          CAST(261836346105 AS BIGINT), CAST(264796460241 AS BIGINT),
          CAST(262640683137 AS BIGINT), CAST(262102801803 AS BIGINT)),
  (100000, CAST(5000 AS BIGINT), CAST(696798532720342584 AS BIGINT),
          CAST(2567702570037 AS BIGINT), CAST(2530744162278 AS BIGINT),
          CAST(2535684022995 AS BIGINT), CAST(2569235845660 AS BIGINT),
          CAST(2532712423383 AS BIGINT), CAST(2537405068671 AS BIGINT))
) t(n_events, n_rows, fp_sum, p_q9_sum, r_q9_sum, f1_q9_sum, pb_q9_sum, rb_q9_sum, fb_q9_sum)
WHERE n_events = (SELECT COUNT(*) FROM events)
"""


def status_counts_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 fail/empty report over the scored corpus; oracle side is the
    frozen per-fixture status census from the pure-Python oracle."""
    from ..operators.report import status_counts
    from ..operators.score import score_extracted
    from ..sources.readers import gold_df

    scores = score_extracted(_extracted(spark, sf_dir), gold_df(spark, sf_dir))
    return status_counts(scores)


_STATUS_COUNTS_SQL = """
SELECT extractor, dataset, status, n_docs FROM (VALUES
  (1000,  'justext_spark', 'cleaneval',  'empty', CAST(112 AS BIGINT)),
  (1000,  'justext_spark', 'cleaneval',  'ok',    CAST(138 AS BIGINT)),
  (1000,  'justext_spark', 'googlenews', 'empty', CAST(107 AS BIGINT)),
  (1000,  'justext_spark', 'googlenews', 'ok',    CAST(143 AS BIGINT)),
  (10000, 'justext_spark', 'cleaneval',  'empty', CAST(111 AS BIGINT)),
  (10000, 'justext_spark', 'cleaneval',  'ok',    CAST(139 AS BIGINT)),
  (10000, 'justext_spark', 'googlenews', 'empty', CAST(115 AS BIGINT)),
  (10000, 'justext_spark', 'googlenews', 'ok',    CAST(135 AS BIGINT)),
  (100000, 'justext_spark', 'cleaneval',  'empty', CAST(1172 AS BIGINT)),
  (100000, 'justext_spark', 'cleaneval',  'ok',    CAST(1328 AS BIGINT)),
  (100000, 'justext_spark', 'googlenews', 'empty', CAST(1189 AS BIGINT)),
  (100000, 'justext_spark', 'googlenews', 'ok',    CAST(1311 AS BIGINT))
) t(n_events, extractor, dataset, status, n_docs)
WHERE n_events = (SELECT COUNT(*) FROM events)
"""


def worst_documents_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 diagnostic: 10 worst-scored ok-documents per (extractor,
    dataset). Oracle side is frozen VALUES from the pure-Python oracle
    (scripts/freeze_fingerprints.py); the P/R/F1 doubles are bitwise-
    deterministic (test_parity), so repr() literals round-trip exactly."""
    from ..operators.report import worst_documents
    from ..operators.score import score_extracted
    from ..sources.readers import gold_df

    scores = score_extracted(_extracted(spark, sf_dir), gold_df(spark, sf_dir))
    return worst_documents(scores, k=10)


# (n_events_key -> rows) frozen by scripts/freeze_fingerprints.py
_WORST_DOCS_CONST: dict[int, list[tuple]] = {
    1000: [
        ("cleaneval", 1, "http://host19.example/204", "0.6029411764705882", "1.0", "0.43157894736842106"),
        ("cleaneval", 2, "http://host5.example/486", "0.6131386861313868", "1.0", "0.4421052631578947"),
        ("cleaneval", 3, "http://host9.example/342", "0.6176470588235294", "1.0", "0.44680851063829785"),
        ("cleaneval", 4, "http://host7.example/488", "0.6573426573426574", "0.6351351351351351", "0.6811594202898551"),
        ("cleaneval", 5, "http://host22.example/22", "0.6615384615384615", "1.0", "0.4942528735632184"),
        ("cleaneval", 6, "http://host36.example/406", "0.6711409395973155", "1.0", "0.5050505050505051"),
        ("cleaneval", 7, "http://host6.example/6", "0.6969696969696969", "1.0", "0.5348837209302325"),
        ("cleaneval", 8, "http://host5.example/264", "0.7338129496402876", "0.6538461538461539", "0.8360655737704918"),
        ("cleaneval", 9, "http://host36.example/443", "0.7339449541284404", "1.0", "0.5797101449275363"),
        ("cleaneval", 10, "http://host32.example/328", "0.7476635514018691", "0.5970149253731343", "1.0"),
        ("googlenews", 1, "http://host25.example/358", "0.6046511627906976", "1.0", "0.43333333333333335"),
        ("googlenews", 2, "http://host29.example/214", "0.6259541984732825", "1.0", "0.45555555555555555"),
        ("googlenews", 3, "http://host17.example/54", "0.6363636363636364", "1.0", "0.4666666666666667"),
        ("googlenews", 4, "http://host4.example/374", "0.6382978723404256", "1.0", "0.46875"),
        ("googlenews", 5, "http://host1.example/38", "0.6434782608695652", "1.0", "0.47435897435897434"),
        ("googlenews", 6, "http://host23.example/134", "0.6446280991735537", "1.0", "0.47560975609756095"),
        ("googlenews", 7, "http://host20.example/390", "0.6666666666666666", "1.0", "0.5"),
        ("googlenews", 8, "http://host30.example/474", "0.7114093959731543", "1.0", "0.5520833333333334"),
        ("googlenews", 9, "http://host12.example/456", "0.7407407407407406", "0.5970149253731343", "0.975609756097561"),
        ("googlenews", 10, "http://host16.example/312", "0.7428571428571429", "0.5909090909090909", "1.0"),
    ],
    10000: [
        ("cleaneval", 1, "http://host22.example/22", "0.6271186440677966", "1.0", "0.4567901234567901"),
        ("cleaneval", 2, "http://host36.example/406", "0.639344262295082", "1.0", "0.46987951807228917"),
        ("cleaneval", 3, "http://host28.example/102", "0.6417910447761194", "1.0", "0.4725274725274725"),
        ("cleaneval", 4, "http://skew.example/200", "0.7096774193548387", "0.6197183098591549", "0.8301886792452831"),
        ("cleaneval", 5, "http://host14.example/88", "0.721311475409836", "0.6197183098591549", "0.8627450980392157"),
        ("cleaneval", 6, "http://host7.example/488", "0.7272727272727273", "0.5714285714285714", "1.0"),
        ("cleaneval", 7, "http://skew.example/120", "0.7326732673267327", "0.578125", "1.0"),
        ("cleaneval", 8, "http://host20.example/168", "0.7476635514018691", "0.5970149253731343", "1.0"),
        ("cleaneval", 9, "http://skew.example/440", "0.7567567567567568", "0.6086956521739131", "1.0"),
        ("cleaneval", 10, "http://host30.example/104", "0.7652173913043477", "0.6197183098591549", "1.0"),
        ("googlenews", 1, "http://host33.example/70", "0.6176470588235294", "1.0", "0.44680851063829785"),
        ("googlenews", 2, "http://host0.example/296", "0.7083333333333333", "0.6538461538461539", "0.7727272727272727"),
        ("googlenews", 3, "http://host28.example/472", "0.7378640776699029", "0.5846153846153846", "1.0"),
        ("googlenews", 4, "http://host4.example/152", "0.7428571428571429", "0.5909090909090909", "1.0"),
        ("googlenews", 5, "http://host35.example/72", "0.7567567567567568", "0.6086956521739131", "1.0"),
        ("googlenews", 6, "http://host10.example/232", "0.759124087591241", "0.6582278481012658", "0.896551724137931"),
        ("googlenews", 7, "http://host9.example/379", "0.7692307692307693", "1.0", "0.625"),
        ("googlenews", 8, "http://host25.example/136", "0.8235294117647058", "0.7", "1.0"),
        ("googlenews", 9, "http://host3.example/373", "0.8235294117647058", "1.0", "0.7"),
        ("googlenews", 10, "http://host16.example/312", "0.8322981366459626", "0.7127659574468085", "1.0"),
    ],
    100000: [
        ("cleaneval", 1, "http://host16.example/2902", "0.5954198473282443", "1.0", "0.42391304347826086"),
        ("cleaneval", 2, "http://host22.example/1206", "0.5984251968503937", "1.0", "0.42696629213483145"),
        ("cleaneval", 3, "http://host14.example/902", "0.624113475177305", "1.0", "0.4536082474226804"),
        ("cleaneval", 4, "http://skew.example/1100", "0.625", "1.0", "0.45454545454545453"),
        ("cleaneval", 5, "http://host8.example/3782", "0.6299212598425197", "1.0", "0.45977011494252873"),
        ("cleaneval", 6, "http://host0.example/4662", "0.6356589147286822", "1.0", "0.4659090909090909"),
        ("cleaneval", 7, "http://host27.example/4726", "0.6356589147286822", "1.0", "0.4659090909090909"),
        ("cleaneval", 8, "http://host6.example/2966", "0.6371681415929203", "1.0", "0.4675324675324675"),
        ("cleaneval", 9, "http://host2.example/4886", "0.6474820143884892", "1.0", "0.4787234042553192"),
        ("cleaneval", 10, "http://host31.example/2806", "0.6518518518518518", "1.0", "0.4835164835164835"),
        ("googlenews", 1, "http://host11.example/2934", "0.5846153846153846", "1.0", "0.41304347826086957"),
        ("googlenews", 2, "http://host34.example/774", "0.5864661654135339", "1.0", "0.4148936170212766"),
        ("googlenews", 3, "http://host16.example/534", "0.5899280575539569", "1.0", "0.41836734693877553"),
        ("googlenews", 4, "http://host16.example/1718", "0.5957446808510638", "1.0", "0.42424242424242425"),
        ("googlenews", 5, "http://host28.example/1212", "0.60431654676259", "1.0", "0.4329896907216495"),
        ("googlenews", 6, "http://host4.example/2150", "0.6074074074074074", "1.0", "0.43617021276595747"),
        ("googlenews", 7, "http://host29.example/1990", "0.6119402985074627", "1.0", "0.44086021505376344"),
        ("googlenews", 8, "http://host21.example/4054", "0.6131386861313868", "1.0", "0.4421052631578947"),
        ("googlenews", 9, "http://host22.example/4351", "0.6176470588235294", "1.0", "0.44680851063829785"),
        ("googlenews", 10, "http://host17.example/54", "0.6190476190476191", "1.0", "0.4482758620689655"),
    ],
}


def _worst_docs_sql() -> str:
    rows = ",\n  ".join(
        f"({n_ev}, 'justext_spark', '{ds}', CAST({rk} AS INTEGER), '{url}', "
        # string->double (strtod) is correctly rounded; a bare decimal
        # literal goes through DECIMAL and can lose the last ulp
        f"CAST('{f1}' AS DOUBLE), CAST('{p}' AS DOUBLE), CAST('{r}' AS DOUBLE))"
        for n_ev, rs in _WORST_DOCS_CONST.items()
        for (ds, rk, url, f1, p, r) in rs
    )
    return f"""
SELECT extractor, dataset, worst_rank, url, f1, precision, recall FROM (VALUES
  {rows}
) t(n_events, extractor, dataset, worst_rank, url, f1, precision, recall)
WHERE n_events = (SELECT COUNT(*) FROM events)
"""


def density_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-parity gate for the SECOND extractor (densometric WSDM-2010
    rules): same order-independent fingerprint shape as
    extract_text_fingerprint, constants frozen from the pandas oracle
    twin (oracle_extract_density)."""
    return _text_fingerprint(spark, sf_dir, "textdensity")


_DENSITY_FP_SQL = """
SELECT n_rows, fp_sum FROM (VALUES
  (1000,  CAST(500 AS BIGINT), CAST(72656019036639518 AS BIGINT)),
  (10000, CAST(500 AS BIGINT), CAST(70358403449349225 AS BIGINT)),
  (100000, CAST(5000 AS BIGINT), CAST(712005036859603059 AS BIGINT))
) t(n_events, n_rows, fp_sum)
WHERE n_events = (SELECT COUNT(*) FROM events)
"""


def bte_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-parity gate for the THIRD extractor (BTE maximum-subarray
    body window, Finn et al. 2001 — algo/bte.py): same order-
    independent fingerprint shape as extract_text_fingerprint,
    constants frozen from the pandas oracle twin (oracle_extract_bte,
    scripts/freeze_fingerprints.py)."""
    return _text_fingerprint(spark, sf_dir, "bte")


_BTE_FP_SQL = """
SELECT n_rows, fp_sum FROM (VALUES
  (1000,  CAST(500 AS BIGINT), CAST(67244854553454784 AS BIGINT)),
  (10000, CAST(500 AS BIGINT), CAST(70304297135791617 AS BIGINT)),
  (100000, CAST(5000 AS BIGINT), CAST(714671973065561049 AS BIGINT))
) t(n_events, n_rows, fp_sum)
WHERE n_events = (SELECT COUNT(*) FROM events)
"""


def extractor_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference harness's core deliverable: multiple extractors
    scored against the same gold and RANKED per dataset (W1). All three
    extraction kernels (jusText, densometric, BTE) run over the same
    latest-crawl pages; scores are unioned and fed to ranked_report;
    the driver-hashed output keeps the integer/string columns (rank
    order is decided by avg macro-F1 internally — floats stay out of
    the hash). Oracle = frozen VALUES from the pandas oracle running
    all three extractors."""
    from ..operators.report import ranked_report

    scores = _scored_all(spark, sf_dir)
    return ranked_report(scores).select(
        "dataset", "rank", "extractor", "n_ok", "n_empty", "n_fail"
    )


_EXTRACTOR_RANKING_CONST: dict[int, list[tuple]] = {
    1000: [
        ("cleaneval", 1, "justext_spark", 138, 112, 0),
        ("cleaneval", 2, "bte", 250, 0, 0),
        ("cleaneval", 3, "textdensity", 197, 53, 0),
        ("googlenews", 1, "justext_spark", 143, 107, 0),
        ("googlenews", 2, "bte", 250, 0, 0),
        ("googlenews", 3, "textdensity", 198, 52, 0),
    ],
    10000: [
        ("cleaneval", 1, "justext_spark", 139, 111, 0),
        ("cleaneval", 2, "bte", 250, 0, 0),
        ("cleaneval", 3, "textdensity", 199, 51, 0),
        ("googlenews", 1, "justext_spark", 135, 115, 0),
        ("googlenews", 2, "bte", 250, 0, 0),
        ("googlenews", 3, "textdensity", 200, 50, 0),
    ],
    100000: [
        ("cleaneval", 1, "justext_spark", 1328, 1172, 0),
        ("cleaneval", 2, "bte", 2500, 0, 0),
        ("cleaneval", 3, "textdensity", 1980, 520, 0),
        ("googlenews", 1, "justext_spark", 1311, 1189, 0),
        ("googlenews", 2, "bte", 2500, 0, 0),
        ("googlenews", 3, "textdensity", 1984, 516, 0),
    ],
}


def _extractor_ranking_sql() -> str:
    rows = ",\n  ".join(
        f"({n_ev}, '{ds}', CAST({rk} AS INTEGER), '{ex}', CAST({n_ok} AS BIGINT), "
        f"CAST({n_empty} AS BIGINT), CAST({n_fail} AS BIGINT))"
        for n_ev, rs in _EXTRACTOR_RANKING_CONST.items()
        for (ds, rk, ex, n_ok, n_empty, n_fail) in rs
    )
    return f"""
SELECT dataset, rank, extractor, n_ok, n_empty, n_fail FROM (VALUES
  {rows}
) t(n_events, dataset, rank, extractor, n_ok, n_empty, n_fail)
WHERE n_events = (SELECT COUNT(*) FROM events)
"""


def extractor_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired SIGN TEST between the two extractors — the statistical
    layer the reference's mean±stddev tables gesture at: per dataset,
    over documents BOTH extractors scored ok, count per-doc F1 wins/
    losses/ties and report the sign-test z statistic
    (wins − losses)/√(wins + losses) in quantized micro-units. This is
    the "is extractor A actually better, or is the mean difference
    noise" number a harness comparing extractors needs.

    Scale shape: both score tables are already per-doc; the pairing is
    one (url, dataset) equi-join between them followed by a 2-group
    aggregate — no new corpus passes beyond the two extraction
    pipelines themselves.

    Cross-engine determinism: per-doc F1 doubles are bitwise
    deterministic (tests/test_parity.py), so the win/loss comparisons
    are exact; the only derived double feeds one fixed √/÷ expression
    quantized to integer micro-units, and wins==losses yields exactly
    0. Oracle = frozen VALUES from the pandas oracle running both
    extractors (scripts/freeze_fingerprints.py)."""
    from ..operators.score import score_extracted
    from ..sources.readers import gold_df

    gold = gold_df(spark, sf_dir)
    j = score_extracted(_extracted(spark, sf_dir), gold, extractor="justext_spark")
    d = score_extracted(
        _extracted(spark, sf_dir, "textdensity"), gold, extractor="textdensity"
    )
    jok = j.filter(F.col("status") == "ok").select(
        "url", "dataset", F.col("f1").alias("f1_j")
    )
    dok = d.filter(F.col("status") == "ok").select(
        "url", "dataset", F.col("f1").alias("f1_d")
    )
    agg = (
        jok.join(dok, ["url", "dataset"])
        .groupBy("dataset")
        .agg(
            F.count(F.lit(1)).alias("n_paired"),
            F.sum((F.col("f1_j") > F.col("f1_d")).cast("bigint")).alias(
                "n_justext_wins"
            ),
            F.sum((F.col("f1_d") > F.col("f1_j")).cast("bigint")).alias(
                "n_density_wins"
            ),
            F.sum((F.col("f1_j") == F.col("f1_d")).cast("bigint")).alias("n_ties"),
        )
    )
    n_dec = F.col("n_justext_wins") + F.col("n_density_wins")
    z = (
        F.col("n_justext_wins") - F.col("n_density_wins")
    ).cast("double") / F.sqrt(n_dec.cast("double"))
    return agg.select(
        "dataset",
        "n_paired",
        "n_justext_wins",
        "n_density_wins",
        "n_ties",
        F.when(n_dec > 0, F.round(z * 1e6).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint"))
        .alias("sign_z_q6"),
    )


# Poisson(1) cdf thresholds on a 48-bit uniform: weight w(url, b) =
# #{k : u48 >= T_k}, k = 0..8 (P(w > 9) < 1e-7, capped). LITERAL ints
# shared by the Spark plan, the frozen-oracle script, and any ANSI
# twin, so both engines draw the identical resample counts.
_BOOT_THRESH = (
    103548857136060, 207097714272121, 258872142840152, 276130285696162,
    280444821410164, 281307728552965, 281451546410098, 281472091818260,
    281474659994280,
)
_BOOT_B = 200  # replicates; CI ranks below assume this
_BOOT_LO_RANK = 5    # ceil(0.025 * 200)
_BOOT_HI_RANK = 195  # ceil(0.975 * 200)


def extractor_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON-BOOTSTRAP confidence interval for the mean per-doc F1
    difference between the two extractors (justext − textdensity) —
    the uncertainty the sign test's z only gestures at. Classic
    resampling draws n docs with replacement per replicate, which is
    a corpus-wide shuffle per replicate and unusable at 100 TB; the
    Poisson bootstrap replaces it with an independent Poisson(1)
    weight per (doc, replicate) computed MAP-SIDE from a keyed hash —
    one pass, no resampling shuffle, and the only rows that move are
    the (dataset, replicate) partial sums. This is the standard
    large-scale bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", Google 2012).

    Cross-engine determinism is integer-exact end to end: per-doc F1
    doubles are bitwise-deterministic (tests/test_parity.py), diffs
    are floored to micro-units BEFORE any sum, Poisson counts come
    from literal integer thresholds on a 48-bit md5 uniform, and each
    replicate mean is a truncating bigint division — so the frozen
    oracle (scripts/freeze_fingerprints.py, same arithmetic in pure
    pandas) matches to the last digit. Irrational/rounding hazards
    never arise.

    Output per dataset: n docs paired, the point estimate, the
    [2.5%, 97.5%] replicate-mean order statistics (all micro-F1
    units), and how many of the 200 replicate means are positive —
    200/200 reads "justext better with near-certainty"."""
    from ..operators.score import score_extracted
    from ..sources.readers import gold_df

    gold = gold_df(spark, sf_dir)
    j = score_extracted(_extracted(spark, sf_dir), gold, extractor="justext_spark")
    d = score_extracted(
        _extracted(spark, sf_dir, "textdensity"), gold, extractor="textdensity"
    )
    jok = j.filter(F.col("status") == "ok").select(
        "url", "dataset", F.col("f1").alias("f1_j")
    )
    dok = d.filter(F.col("status") == "ok").select(
        "url", "dataset", F.col("f1").alias("f1_d")
    )
    paired = jok.join(dok, ["url", "dataset"]).select(
        "url",
        "dataset",
        F.floor((F.col("f1_j") - F.col("f1_d")) * 1e6)
        .cast("bigint")
        .alias("d_q6"),
    )
    point = paired.groupBy("dataset").agg(
        F.count(F.lit(1)).alias("n_paired"),
        F.expr("sum(d_q6) div count(1)").alias("point_q6"),
    )

    b = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b")
    reps = paired.select("url", "dataset", "d_q6", b)
    u48 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("boot:"), F.col("url"), F.lit(":"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    thresh = F.array(*[F.lit(t).cast("bigint") for t in _BOOT_THRESH])
    w = F.size(F.filter(thresh, lambda t: t <= u48)).cast("bigint")
    per_rep = (
        reps.select("dataset", "b", "d_q6", w.alias("w"))
        .groupBy("dataset", "b")
        .agg(
            F.sum(F.col("w") * F.col("d_q6")).alias("sum_wd"),
            F.sum("w").alias("sum_w"),
        )
        .select(
            "dataset",
            "b",
            F.when(F.col("sum_w") > 0, F.expr("sum_wd div sum_w"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("mean_q6"),
        )
    )
    rw = Window.partitionBy("dataset").orderBy(F.asc("mean_q6"), F.asc("b"))
    ranked = per_rep.withColumn("rn", F.row_number().over(rw))
    ci = ranked.groupBy("dataset").agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.max(F.when(F.col("rn") == _BOOT_LO_RANK, F.col("mean_q6"))).alias(
            "ci_lo_q6"
        ),
        F.max(F.when(F.col("rn") == _BOOT_HI_RANK, F.col("mean_q6"))).alias(
            "ci_hi_q6"
        ),
        F.sum((F.col("mean_q6") > 0).cast("bigint")).alias("n_pos_replicates"),
    )
    return point.join(ci, "dataset").select(
        "dataset",
        "n_paired",
        "n_replicates",
        "point_q6",
        "ci_lo_q6",
        "ci_hi_q6",
        "n_pos_replicates",
    )


# frozen from scripts/freeze_fingerprints.py (pandas oracle, identical
# integer arithmetic); keyed by the fixture's event count like
# _SIGN_TEST_CONST: 1000 = sf0.001, 10000 = sf0.01
_BOOTSTRAP_CI_CONST: dict[int, list[tuple]] = {
    1000: [
        ("cleaneval", 138, 200, 61405, 26648, 96521, 200),
        ("googlenews", 143, 200, 57562, 30156, 85141, 200),
    ],
    10000: [
        ("cleaneval", 139, 200, 63976, 32421, 94395, 200),
        ("googlenews", 135, 200, 76837, 40818, 114320, 200),
    ],
    100000: [
        ("cleaneval", 1325, 200, 76495, 63875, 90264, 200),
        ("googlenews", 1302, 200, 77596, 64980, 90195, 200),
    ],
}


def _bootstrap_ci_sql() -> str:
    rows = ",\n  ".join(
        f"({n_ev}, '{ds}', CAST({n_p} AS BIGINT), CAST({n_r} AS BIGINT), "
        f"CAST({pt} AS BIGINT), CAST({lo} AS BIGINT), CAST({hi} AS BIGINT), "
        f"CAST({np} AS BIGINT))"
        for n_ev, rs in _BOOTSTRAP_CI_CONST.items()
        for (ds, n_p, n_r, pt, lo, hi, np) in rs
    )
    return f"""
SELECT dataset, n_paired, n_replicates, point_q6, ci_lo_q6, ci_hi_q6,
       n_pos_replicates
FROM (VALUES
  {rows}
) t(n_events, dataset, n_paired, n_replicates, point_q6, ci_lo_q6, ci_hi_q6,
    n_pos_replicates)
WHERE n_events = (SELECT COUNT(*) FROM events)
"""


def span_churn_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl PARAGRAPH churn census: for every recrawled
    url, diff the paragraph multisets of the oldest vs newest crawl
    (operators.align.crawl_span_churn — the cogrouped-Arrow surface)
    and aggregate per dataset. The synthesis rules render each second
    crawl with a different boilerplate template around the same
    content, so this census separates template churn (added/removed)
    from stable content (common) — the re-extract-or-skip signal
    crawl_content_diff's text hashes cannot give.

    Scale shape: the span kernel runs over the recrawled subset only;
    the diff is one cogroup on url (each side shuffled once); the
    census is a 2-row aggregate after a broadcast dataset join.
    Oracle = frozen VALUES from the pandas oracle replaying the same
    crawl split + multiset diff (scripts/freeze_fingerprints.py)."""
    from ..operators.align import crawl_span_churn
    from ..sources.readers import gold_df, pages_df

    pages = pages_df(spark, sf_dir, n_partitions=16)
    churn = crawl_span_churn(pages)
    ds = gold_df(spark, sf_dir).select("url", "dataset")
    return (
        churn.join(F.broadcast(ds), "url")
        .groupBy("dataset")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum("n_spans_old").alias("sum_spans_old"),
            F.sum("n_spans_new").alias("sum_spans_new"),
            F.sum("n_common").alias("sum_common"),
            F.sum("n_added").alias("sum_added"),
            F.sum("n_removed").alias("sum_removed"),
        )
    )


def page_byte_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-Arrow byte census — the ``mapInArrow`` kernel surface
    (operators/arrowops.py page_byte_stats) under an oracle-checkable
    harness: a pages-shaped frame is derived from ``documents``
    (url = doc_id, html = UTF-8 bytes of the text in a minimal HTML
    envelope) so the kernel's buffer-side outputs — payload size,
    '<'/'>' byte counts, hex of the 16-byte magic window — replay
    relationally in DuckDB (octet_length / replace / hex). The real
    pipeline runs the same kernel over synthesized pages, where only
    pytest gates it (tests/test_arrowops.py); this entry gives the
    zero-pandas fast path an official driver row.

    Scale shape: one map-only stage, no shuffle; the binary column
    never materializes as per-row Python objects."""
    from ..operators.arrowops import page_byte_stats
    from ..sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(
            F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")), "UTF-8"
        ).alias("html"),
    )
    return page_byte_stats(docs)


_PAGE_BYTE_CENSUS_SQL = """
SELECT url,
       CAST(octet_length(encode(w)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(w))
            - octet_length(encode(replace(w, '<', ''))) AS BIGINT) AS n_lt,
       CAST(octet_length(encode(w))
            - octet_length(encode(replace(w, '>', ''))) AS BIGINT) AS n_gt,
       left(lower(hex(encode(w))), 32) AS head16
FROM (
  SELECT CAST(doc_id AS VARCHAR) AS url, '<p>' || text || '</p>' AS w
  FROM documents
) t
"""


# Frozen from scripts/freeze_fingerprints.py (pandas oracle replaying
# the oldest/newest crawl split + per-url paragraph multiset diff).
_SPAN_CHURN_CONST: dict[int, list[tuple]] = {
    1000: [("cleaneval", 25, 246, 180, 68, 112, 178)],
    10000: [("cleaneval", 25, 259, 184, 71, 113, 188)],
    100000: [("cleaneval", 250, 2315, 1850, 702, 1148, 1613)],
}


def _span_churn_sql() -> str:
    rows = ",\n  ".join(
        f"({n_ev}, '{ds}', CAST({n} AS BIGINT), CAST({so} AS BIGINT), "
        f"CAST({sn} AS BIGINT), CAST({c} AS BIGINT), CAST({ad} AS BIGINT), "
        f"CAST({rm} AS BIGINT))"
        for n_ev, rs in _SPAN_CHURN_CONST.items()
        for (ds, n, so, sn, c, ad, rm) in rs
    )
    return f"""
SELECT dataset, n_urls, sum_spans_old, sum_spans_new, sum_common,
       sum_added, sum_removed
FROM (VALUES
  {rows}
) t(n_events, dataset, n_urls, sum_spans_old, sum_spans_new, sum_common,
    sum_added, sum_removed)
WHERE n_events = (SELECT COUNT(*) FROM events)
"""


# Frozen from scripts/freeze_fingerprints.py (pandas oracle, both
# extractors; keyed by the events row count like the other gates).
_SIGN_TEST_CONST: dict[int, list[tuple]] = {
    1000: [
        ("cleaneval", 138, 94, 29, 15, 5860853),
        ("googlenews", 143, 96, 29, 18, 5992662),
    ],
    10000: [
        ("cleaneval", 139, 95, 24, 20, 6508559),
        ("googlenews", 135, 90, 31, 14, 5363636),
    ],
    100000: [
        ("cleaneval", 1325, 924, 277, 124, 18669504),
        ("googlenews", 1302, 898, 259, 145, 18785994),
    ],
}


def _sign_test_sql() -> str:
    rows = ",\n  ".join(
        f"({n_ev}, '{ds}', CAST({n_p} AS BIGINT), CAST({w} AS BIGINT), "
        f"CAST({lo} AS BIGINT), CAST({t} AS BIGINT), CAST({z} AS BIGINT))"
        for n_ev, rs in _SIGN_TEST_CONST.items()
        for (ds, n_p, w, lo, t, z) in rs
    )
    return f"""
SELECT dataset, n_paired, n_justext_wins, n_density_wins, n_ties, sign_z_q6
FROM (VALUES
  {rows}
) t(n_events, dataset, n_paired, n_justext_wins, n_density_wins, n_ties,
    sign_z_q6)
WHERE n_events = (SELECT COUNT(*) FROM events)
"""


def corpus_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language EXACT length percentiles (p50/p90/p99, linear
    interpolation) — corpus profiling for filter-threshold tuning.
    Exact (sort-based) rather than approx_percentile: t-digest /
    GK sketches are engine-specific, so the approximate variants can
    never be oracle-checked; at 100 TB swap in approx_percentile and
    keep this as the audit query on samples."""
    docs = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("p50_chars"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 4).alias("p90_chars"),
        F.round(F.percentile("n_chars", F.lit(0.99)), 4).alias("p99_chars"),
    )


_PERCENTILES_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       ROUND(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
       ROUND(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
       ROUND(quantile_cont(n_chars, 0.99), 4) AS p99_chars
FROM documents GROUP BY lang
"""


def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width length histogram per language (bucket = n_chars div
    100) — map-side bucketing + hash aggregate, the shape that profiles
    a 100 TB corpus in one pass."""
    docs = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    return (
        docs.withColumn("bucket_lo", F.expr("(n_chars div 100) * 100"))
        .groupBy("lang", "bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_HISTOGRAM_SQL = """
SELECT lang, (n_chars // 100) * 100 AS bucket_lo, COUNT(*) AS n_docs
FROM documents GROUP BY 1, 2
"""


def q_events_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-column surface (§2.10): parse the JSON props into
    map<string,string>, explode, and census keys per event type —
    from_json + explode(map) stay whole-stage-codegen'd JVM ops."""
    ev = _t(spark, sf_dir, "events").select("event_type", "props")
    m = F.from_json("props", "map<string,string>")
    return (
        ev.select("event_type", F.explode(m).alias("prop_key", "prop_value"))
        .groupBy("event_type", "prop_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("prop_value").alias("n_distinct_values"),
        )
    )


# JSON -> MAP(VARCHAR,VARCHAR) cast (true key/value pairs), not a
# '$.' || key path rebuild: a path string breaks for keys containing
# '.', quotes, or brackets, so the twin would silently depend on
# fixture key shapes (ADVICE r2). The MAP cast mirrors Spark's
# from_json map<string,string> (scalar values unquoted, nested values
# as JSON text).
_EVENTS_PROPS_MAP_SQL = """
SELECT event_type, u.entry.key AS prop_key, COUNT(*) AS n,
       COUNT(DISTINCT u.entry.value) AS n_distinct_values
FROM (
  SELECT event_type,
         unnest(map_entries(CAST(props::JSON AS MAP(VARCHAR, VARCHAR)))) AS entry
  FROM events
) u
GROUP BY 1, 2
"""


_PIVOT_SOURCES = ["src0", "src1", "src2", "src3"]


def lang_source_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot surface: doc counts per language with one column per
    (fixed, enumerated) source — ``pivot(col, values)`` with explicit
    values keeps the plan a single pass (no extra distinct-values job)
    and is the only scalable form at 100 TB; the long-tail stays in
    n_other. The oracle replays it as conditional aggregation (what a
    pivot lowers to)."""
    docs = _t(spark, sf_dir, "documents").select("lang", "source")
    wide = (
        docs.groupBy("lang")
        .pivot("source", _PIVOT_SOURCES)
        .agg(F.count(F.lit(1)))
    )
    for s in _PIVOT_SOURCES:
        wide = wide.withColumnRenamed(s, f"n_{s}").withColumn(
            f"n_{s}", F.coalesce(F.col(f"n_{s}"), F.lit(0))
        )
    other = docs.filter(~F.col("source").isin(_PIVOT_SOURCES)).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_other")
    )
    return wide.join(other, "lang", "left").withColumn(
        "n_other", F.coalesce("n_other", F.lit(0))
    )


def _pivot_sql() -> str:
    cols = ",\n       ".join(
        f"CAST(SUM(CASE WHEN source = '{s}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{s}"
        for s in _PIVOT_SOURCES
    )
    not_in = ", ".join(f"'{s}'" for s in _PIVOT_SOURCES)
    return f"""
SELECT lang,
       {cols},
       CAST(SUM(CASE WHEN source NOT IN ({not_in}) THEN 1 ELSE 0 END) AS BIGINT) AS n_other
FROM documents GROUP BY lang
"""


def extract_report_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship evaluation report in driver-hashable EXACT-INTEGER
    form: per (extractor, dataset) status counts, floor(1e9 * metric)
    sums over ok docs (order-independent integer sums of the bitwise-
    deterministic per-doc P/R/F1), and the micro token counters. The
    float report (`extract_report`) stays the human-facing entry; this
    twin is what a cross-engine hash can gate — macro-F1 is
    sum_f1_q9 / 1e9 / n_ok to within 1e-9."""
    scores = _scored_all(spark, sf_dir)
    ok = F.col("status") == "ok"
    return scores.groupBy("extractor", "dataset").agg(
        F.count(F.when(ok, 1)).alias("n_ok"),
        F.count(F.when(F.col("status") == "empty", 1)).alias("n_empty"),
        F.count(F.when(~ok & (F.col("status") != "empty"), 1)).alias("n_fail"),
        F.sum(F.when(ok, _q9("precision")).otherwise(F.lit(0))).alias("sum_p_q9"),
        F.sum(F.when(ok, _q9("recall")).otherwise(F.lit(0))).alias("sum_r_q9"),
        F.sum(F.when(ok, _q9("f1")).otherwise(F.lit(0))).alias("sum_f1_q9"),
        F.sum("matched").alias("micro_matched"),
        F.sum("retrieved").alias("micro_retrieved"),
        F.sum("relevant").alias("micro_relevant"),
    )


_REPORT_EXACT_CONST: dict[int, list[tuple]] = {
    1000: [
        ("bte", "cleaneval", 250, 0, 0, 169409877519, 205981481481, 184343324261, 11525, 14362, 14032),
        ("bte", "googlenews", 250, 0, 0, 191832486699, 223970927993, 205282547461, 12764, 15037, 13907),
        ("justext_spark", "cleaneval", 138, 112, 0, 133010979488, 130898948037, 130860694132, 8916, 9372, 14032),
        ("justext_spark", "googlenews", 143, 107, 0, 139255958514, 135660561391, 136273997358, 9196, 9509, 13907),
        ("textdensity", "cleaneval", 197, 53, 0, 128023913366, 151166666666, 138049657993, 9959, 12083, 14032),
        ("textdensity", "googlenews", 198, 52, 0, 133748524090, 154272727272, 142783450014, 10336, 12286, 13907),
    ],
    10000: [
        ("bte", "cleaneval", 250, 0, 0, 169913152135, 205964285714, 184719351390, 11470, 14307, 13664),
        ("bte", "googlenews", 250, 0, 0, 189311898744, 223971179883, 203568700155, 12034, 14307, 13501),
        ("justext_spark", "cleaneval", 139, 111, 0, 133043470709, 133216590207, 132166265771, 9000, 9512, 13664),
        ("justext_spark", "googlenews", 135, 115, 0, 131516997098, 129117426985, 129670080334, 8779, 9065, 13501),
        ("textdensity", "cleaneval", 199, 51, 0, 131570597340, 154488413546, 141460486883, 9973, 12064, 13664),
        ("textdensity", "googlenews", 200, 50, 0, 129475690585, 149490566036, 137873269940, 9764, 11702, 13501),
    ],
    100000: [
        ("bte", "cleaneval", 2500, 0, 0, 1683303572732, 2063773803521, 1834288833043, 112007, 140178, 135859),
        ("bte", "googlenews", 2500, 0, 0, 1903505368932, 2247592802839, 2044884947694, 121191, 144192, 134845),
        ("justext_spark", "cleaneval", 1328, 1172, 0, 1286167828354, 1274805093218, 1273642408603, 86254, 89934, 135859),
        ("justext_spark", "googlenews", 1311, 1189, 0, 1281534741683, 1255939069060, 1262041614392, 85027, 87604, 134845),
        ("textdensity", "cleaneval", 1980, 520, 0, 1261414569545, 1481572118775, 1355305462032, 95888, 116519, 135859),
        ("textdensity", "googlenews", 1984, 516, 0, 1284565180124, 1491686033474, 1372971347667, 96758, 116097, 134845),
    ],
}


def _report_exact_sql() -> str:
    rows = ",\n  ".join(
        f"({n_ev}, '{ex}', '{ds}', CAST({n_ok} AS BIGINT), CAST({n_e} AS BIGINT), "
        f"CAST({n_f} AS BIGINT), CAST({p} AS BIGINT), CAST({r} AS BIGINT), "
        f"CAST({f1} AS BIGINT), CAST({mm} AS BIGINT), CAST({mr} AS BIGINT), "
        f"CAST({mv} AS BIGINT))"
        for n_ev, rs in _REPORT_EXACT_CONST.items()
        for (ex, ds, n_ok, n_e, n_f, p, r, f1, mm, mr, mv) in rs
    )
    return f"""
SELECT extractor, dataset, n_ok, n_empty, n_fail, sum_p_q9, sum_r_q9, sum_f1_q9,
       micro_matched, micro_retrieved, micro_relevant
FROM (VALUES
  {rows}
) t(n_events, extractor, dataset, n_ok, n_empty, n_fail, sum_p_q9, sum_r_q9,
    sum_f1_q9, micro_matched, micro_retrieved, micro_relevant)
WHERE n_events = (SELECT COUNT(*) FROM events)
"""


# -- module registry (merged into plans.queries.SQL_CHECKED) ----------------
_REGISTRY = {
    "extract_text_fingerprint": (extract_text_fingerprint, _TEXT_FP_SQL),
    "extract_spans_fingerprint": (extract_spans_fingerprint, _SPANS_FP_SQL),
    "doc_scores_fingerprint": (doc_scores_fingerprint, _SCORES_FP_SQL),
    "status_counts": (status_counts_query, _STATUS_COUNTS_SQL),
    "worst_documents": (worst_documents_query, _worst_docs_sql()),
    "density_text_fingerprint": (density_text_fingerprint, _DENSITY_FP_SQL),
    "bte_text_fingerprint": (bte_text_fingerprint, _BTE_FP_SQL),
    "extractor_ranking": (extractor_ranking, _extractor_ranking_sql()),
    "extractor_sign_test": (extractor_sign_test, _sign_test_sql()),
    "extractor_bootstrap_ci": (extractor_bootstrap_ci, _bootstrap_ci_sql()),
    "span_churn_census": (span_churn_census, _span_churn_sql()),
    "page_byte_census": (page_byte_census, _PAGE_BYTE_CENSUS_SQL),
    "corpus_length_percentiles": (corpus_length_percentiles, _PERCENTILES_SQL),
    "corpus_length_histogram": (corpus_length_histogram, _HISTOGRAM_SQL),
    "extract_report_exact": (extract_report_exact, _report_exact_sql()),
    "lang_source_pivot": (lang_source_pivot, _pivot_sql()),
    "q_events_props_map": (q_events_props_map, _EVENTS_PROPS_MAP_SQL),
}
