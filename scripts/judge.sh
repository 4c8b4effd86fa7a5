#!/usr/bin/env bash
# One-command correctness adjudication: the full Verify dump + the
# DuckDB-oracle compare, exactly what the driver's CORRECTNESS gate
# runs (and what the round-6 judge assembled by hand). Prints the
# per-key PASS/FAIL lines and the final "N/M pass" line. Usage:
#   scripts/judge.sh [sfDir] [cpus]   (defaults: /root/testdata/sf0.01, 8)
# With SPARK_GRAFT_SPLIT_BYTES=64k, Verify cuts each fixture table into
# 64 KB file splits, so the oracle judges the partitioned plans a table
# at scale gets instead of the one-split fast path's.
#
# ADVICE r7 hardening: the old `sbt ... | grep ... || true` pipeline
# swallowed sbt crashes under pipefail AND could adjudicate a stale
# pre-existing dump. Now: the dump dir is removed up front (a compare
# can never see stale output), sbt's own exit code is checked from a
# log file, and only then is the log grepped for per-query failures.
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
CPUS=${2:-8}
OUT=/tmp/graft_judge_$(basename "$SF")${SPARK_GRAFT_SPLIT_BYTES:+_$SPARK_GRAFT_SPLIT_BYTES}
LOG=$OUT.log
rm -rf "$OUT"
echo "== Verify: full query suite at $SF (cpus=$CPUS) -> $OUT (log: $LOG) =="
if ! SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Verify $SF $OUT" >"$LOG" 2>&1; then
  tail -n 40 "$LOG"
  echo "VERIFY CRASHED (sbt exit != 0; full log: $LOG)"
  exit 1
fi
if grep -E '\[verify\].*failed' "$LOG"; then
  echo "VERIFY FAILURES ^"
  exit 1
fi
echo "== DuckDB oracle compare =="
python3 scripts/check.py "$SF" "$OUT"
