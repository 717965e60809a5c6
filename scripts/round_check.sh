#!/usr/bin/env bash
# Round-end verification checklist. Chains, in order:
#   1. the full pytest suite,
#   2. the full 174-entry registry sweep vs the DuckDB oracle at sf0.01.
# Any failure stops the chain with a non-zero exit.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/2 pytest =="
python -m pytest tests/ -q

echo "== 2/2 full registry sweep (sf0.01) =="
python scripts/sweep_oracle.py /root/testdata/sf0.01

echo "ROUND CHECK: all green"
