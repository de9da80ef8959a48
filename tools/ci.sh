#!/usr/bin/env bash
# Full local gate: unit + parity tests, then the DuckDB differential
# suite at all three scale factors, then the benchmark smoke run.
set -euo pipefail
cd "$(dirname "$0")/.."

python -m pytest tests/ -q
for sf in sf0.001 sf0.01 sf0.1; do
  echo "== differential gate @ $sf =="
  python tools/check_oracle.py "/root/testdata/$sf" 2>/dev/null | grep -E '^(FAIL|[0-9]+/[0-9]+ ok)'
done
python3 perfbench/run.py --smoke
