#!/usr/bin/env bash
# Round-end verification checklist. Chains, in order:
#   1. the full pytest suite, as the tier-1 command in ROADMAP.md runs it
#      (all usable cores, local dirs under /tmp, 2670 s budget),
#   2. the benchmark's helper tests (perfbench/tests, ~2 s, no Spark),
#   3. the full registry sweep vs the DuckDB oracle at sf0.01 (the entry
#      count it ran is printed at the end),
# and then prints the package's .py line count, the tier-1 test count and
# the dead-code scans (the verify skill's deleting-code step 0): every
# top-level def/class and top-level constant (``NAME =``/``_NAME =``) in
# the package that only its own definition line and tests/ name (a
# registry entry is named twice in its own file, at its def and in
# _REGISTRY, so only unreached helpers show), then every package module
# that nothing outside tests/ imports.
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

# step-0 scan: "<hits in own file> <file> <name>" for each top-level
# def/class/constant nothing outside its own file names except tests;
# 1 hit = only the definition, so only tests reach it (no pipefail:
# grep -q may close the pipe early)
dead="$(set +o pipefail; for f in $(find text_extraction_evaluation_spark -name '*.py'); do
  { grep -oP '^(?:(?:def|class) \K\w+|_?[A-Z][A-Z0-9_]+(?= =))' "$f" || true; } | while read -r n; do
    grep -rlw --include=*.py "$n" text_extraction_evaluation_spark scripts perfbench bench.py oracle __spark_entry__.py \
      | grep -qvx "$f" || echo "$(grep -cw "$n" "$f") $f $n"
  done
done | awk '$1 == 1 { print $2 " " $3 }' | sort)"
echo "DEAD: $(printf '%s' "$dead" | grep -c . || true) names only tests reach"
[ -z "$dead" ] || printf '%s\n' "$dead"

# whole-module scan: the name scan above misses a module whose names are
# only used inside it, so also list every package module (bar
# __init__.py) that no import statement outside its own file names
dead_mods="$(python3 - <<'PY'
import ast
import pathlib

PKG = "text_extraction_evaluation_spark"


def modname(path):
    parts = list(path.with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


files = sorted(pathlib.Path(PKG).rglob("*.py"))
users = files + sorted(pathlib.Path("scripts").glob("*.py")) + sorted(
    pathlib.Path("perfbench").rglob("*.py")
) + sorted(pathlib.Path("oracle").rglob("*.py")) + [
    pathlib.Path("bench.py"), pathlib.Path("__spark_entry__.py")
]
imported = {}  # dotted module name -> files that import it
for f in users:
    me = modname(f)
    pkg = me if f.name == "__init__.py" else me.rpartition(".")[0]
    for node in ast.walk(ast.parse(f.read_text(), str(f))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = pkg.rsplit(".", node.level - 1)[0]
                base = f"{up}.{base}" if base else up
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for n in names:
            imported.setdefault(n, set()).add(f)
for f in files:
    if f.name != "__init__.py" and not imported.get(modname(f), set()) - {f}:
        print(f)
PY
)"
echo "DEAD MODULES: $(printf '%s' "$dead_mods" | grep -c . || true)"
[ -z "$dead_mods" ] || printf '%s\n' "$dead_mods"
