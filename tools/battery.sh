#!/usr/bin/env bash
# The review battery — the full verification canon in one command.
# Every round's "closing battery" in SCALE.md is a run of exactly this
# sequence; scripting it means no step (in particular the plan audit's
# DUP_EXPR check, which round 9 shipped without) can be skipped by
# accident.
#
# Usage: tools/battery.sh [--quick]
#   --quick : pytest + sf0.001 gate + plan audit (skip sf0.01, the
#             benchmark self-test, the layer census and bench)
#
# Exit code: non-zero on the FIRST failing stage.
set -u
cd "$(dirname "$0")/.."

quick=0
[ "${1:-}" = "--quick" ] && quick=1

run() {
  echo "=== $1"
  shift
  local t0=$SECONDS
  "$@"
  local rc=$?
  echo "--- rc=$rc (${1:-}) $((SECONDS - t0))s"
  [ $rc -ne 0 ] && exit $rc
  return 0
}

run "pytest (full suite)" python -m pytest tests/ -q
# --sf explicit: check_oracle's DEFAULT is sf0.01, so the bare call this
# line used to make ran the driver SF twice and never sf0.001
run "oracle gate sf0.001 (all entries)" \
    python tools/check_oracle.py --sf /root/testdata/sf0.001
run "plan audit (CARTESIAN/BNLJ/row-Python/exchanges/DUP_EXPR)" \
    python tools/plan_audit.py
if [ "$quick" -eq 0 ]; then
  run "oracle gate sf0.01 (driver SF, all entries)" \
      python tools/check_oracle.py --sf /root/testdata/sf0.01
  run "benchmark self-test (perfbench, both workloads)" \
      python3 perfbench/selftest.py
  run "layer census sf0.001 (all entries, through perfbench)" \
      python tools/time_catalog.py --sf 0.001
  echo "=== bench (sf0.1)"
  python bench.py || exit $?
fi
echo "BATTERY GREEN"
