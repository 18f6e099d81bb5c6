#!/usr/bin/env bash
# Full local gate: tests, correctness vs DuckDB at the driver's SF, bench.
# Usage: tools/gate.sh [sf_dir] [bench_sf_dir]
#
# pipefail is load-bearing: every step pipes through grep/tail for
# readable output, and without it the pipeline's exit code is the
# FILTER's (always 0) — a red `sbt test` or a compare failure would
# sail through `set -e`. GateSpec-equivalent check: seed a failing
# test or a wrong oracle and this script must exit non-zero (r13
# verdict #10, verified in r14).
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
BSF=${2:-/root/testdata/sf0.1}
OUT=$(mktemp -d /tmp/graft-gate-XXXX)

echo "== sbt test =="
sbt -batch test 2>&1 | grep -E "All tests|Passed:|\*\*\*|Failed"

echo "== perfbench statistics tests =="
python3 -m unittest discover -s perfbench -p 'test_*.py' 2>&1 | tail -3

echo "== Verify @$SF =="
# `|| true` only on the grep (no [verify] failure lines is the GOOD
# case and grep exits 1 on zero matches); the sbt exit itself still
# gates through pipefail
sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 \
  | { grep -E "\[verify\]" || true; }
python3 tools/compare.py "$SF" "$OUT" | tail -2

echo "== Bench @$BSF =="
SPARK_GRAFT_SF_DIR=$BSF SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"'

echo "== citations + doc claims =="
python3 tools/check_citations.py
