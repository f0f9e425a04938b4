#!/usr/bin/env bash
# One-command reproduction of the full validation surface:
#   tests, oracle parity at two scale factors, hostile-timezone
#   parity, the weekly DAG's published outputs checked against
#   perfbench/expected.json, and the benchmark diffed against BASELINE.md.
#   The package size (tools/loc.py) is printed as a report, not a gate.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest =="
python -m pytest tests/ -q

echo "== oracle sf0.01 =="
python tools/check_oracle.py

echo "== oracle sf0.1 =="
ORACLE_SF_DIR=/root/testdata/sf0.1 python tools/check_oracle.py

echo "== oracle sf0.01 under non-UTC process TZ =="
TZ=America/New_York python tools/check_oracle.py

echo "== weekly DAG publishes its expected outputs =="
last=$(python3 perfbench/run.py --workload weekly_dag --seed 1 --seconds 1 \
    --trace 0 | tail -n 1)
grep -q '"correct": true' <<<"$last"

echo "== package size (report only) =="
python tools/loc.py

echo "== bench vs baseline =="
python bench.py | python tools/bench_compare.py
