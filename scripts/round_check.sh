#!/usr/bin/env bash
# Round-end verification checklist. Chains, in order:
#   1. the full pytest suite, as the tier-1 command in ROADMAP.md runs it
#      (all usable cores, local dirs under /tmp, 2670 s budget),
#   2. the benchmark's helper tests (perfbench/tests, ~2 s, no Spark),
#   3. the full registry sweep vs the DuckDB oracle at sf0.01 (the entry
#      count it ran is printed at the end),
# and then prints the package's .py line count and the tier-1 test count.
# Any failure stops the chain with a non-zero exit.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/3 pytest (tier-1) =="
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local
timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

echo "== 2/3 perfbench helper tests =="
python3 -m pytest perfbench/tests -q -p no:cacheprovider

echo "== 3/3 full registry sweep (sf0.01) =="
sweep="$(python scripts/sweep_oracle.py /root/testdata/sf0.01)" || { echo "$sweep"; exit 1; }
echo "$sweep"
ran="${sweep#SWEEP }"
ran="${ran%% *}"

echo "ROUND CHECK: all green (registry sweep ran ${ran#*/} entries)"

# size of what was checked: package code lines and collected tier-1 tests
pkg_lines="$(find text_extraction_evaluation_spark -name '*.py' -print0 | xargs -0 cat | wc -l)"
n_tests="$(python -m pytest tests/ -q --collect-only -p no:cacheprovider | tail -n 1)"
echo "SIZE: package ${pkg_lines} .py lines; tier-1 ${n_tests}"
