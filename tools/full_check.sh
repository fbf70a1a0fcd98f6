#!/usr/bin/env bash
# Full regression: unit suite + differential oracle sweeps + bench.
# Usage: bash tools/full_check.sh
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest =="
python -m pytest tests/ -q

echo "== benchmark self-tests (run_once, merge_upsert_by_key, __tmp_merge attribution) =="
python -m pytest perfbench -q

echo "== oracle sweep (sf0.001) =="
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-16} python tools/check_correctness.py /root/testdata/sf0.001

echo "== oracle sweep (sf0.01) =="
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-16} python tools/check_correctness.py /root/testdata/sf0.01

echo "== oracle sweep (sf0.01, width 1) =="
SPARK_GRAFT_CPUS=1 python tools/check_correctness.py /root/testdata/sf0.01

echo "== oracle sweep (sf0.01, width 64) =="
SPARK_GRAFT_CPUS=64 python tools/check_correctness.py /root/testdata/sf0.01

echo "== oracle sweep (sf0.01, hostile session: plain builder, non-UTC tz) =="
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-16} python tools/check_correctness.py /root/testdata/sf0.01 --hostile

echo "== oracle sweep (sf0.1) =="
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-16} python tools/check_correctness.py /root/testdata/sf0.1

echo "== bench (sf0.1) =="
python bench.py
