"""Full driver-contract sweep: every SQL-checked registry entry run on
Spark AND its DuckDB twin at the given sf dir (default sf0.01 — the
scale the external driver checks), compared with the exact
normalization of tests/test_queries_oracle.py. Prints one line per
query and a final summary; exit 1 on any mismatch.

Usage: python scripts/sweep_oracle.py [sf_dir]
"""

from __future__ import annotations

import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> int:
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod
    from tests.test_queries_oracle import normalize
    from text_extraction_evaluation_spark.sources.readers import TABLES, get_spark

    argv = list(sys.argv[1:])
    sf = argv[0] if argv else "/root/testdata/sf0.01"
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    names = sorted(oracles)
    spark = get_spark("sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    fails: list[str] = []
    for name in names:
        t0 = time.perf_counter()
        try:
            got = normalize(qs[name](spark, sf).toPandas())
            want = normalize(con.sql(oracles[name]).df())
            if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
                ok = False
            else:
                try:
                    pd.testing.assert_frame_equal(got, want, check_dtype=False)
                    ok = True
                except AssertionError:
                    ok = False
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            print(f"FAIL {name}: {exc!r}", file=sys.stderr, flush=True)
            fails.append(name)
            continue
        dt = time.perf_counter() - t0
        print(
            f"{'ok  ' if ok else 'FAIL'} {name} ({len(got)} rows, {dt:.1f}s)",
            file=sys.stderr,
            flush=True,
        )
        if not ok:
            fails.append(name)
    print(f"SWEEP {len(names) - len(fails)}/{len(names)} green; fails={fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
