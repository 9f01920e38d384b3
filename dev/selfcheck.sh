#!/usr/bin/env bash
# Round-closing self-evidencing correctness run (VERDICT r12 task #2):
# regenerate the full Verify dump at sf0.01 at HEAD, replay every oracle
# in DuckDB, and commit the machine-readable summary as
# CORRECTNESS_SELF_r<N>.json — so the repo carries its own correctness
# record even when the driver's CORRECTNESS_r<N>.json comes back empty
# (it did in r05 and r12).
#
# Usage: dev/selfcheck.sh <round>          e.g. dev/selfcheck.sh 13
# Env:   SPARK_GRAFT_SF_DIR (default sf0.01). Verify builds graft.Bench's own
#        session (HostMetrics.session), so SPARK_GRAFT_CPUS and
#        SPARK_GRAFT_ANSI apply exactly as they do to the bench.
set -euo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:?usage: dev/selfcheck.sh <round-number>}"
SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/selfcheck_rXXXX)"

echo "[selfcheck] Verify dump: $SF_DIR -> $OUT"
# don't let a grep filter swallow an sbt failure (ADVICE r13): run sbt
# against a log file and check its exit directly; compare.py additionally
# fails on dump dirs missing vs the oracle, so a partial dump can't score
VLOG="$OUT/verify.log"
if ! sbt -batch "runMain graft.Verify $SF_DIR $OUT" \
    >"$VLOG" 2>&1; then
  grep -E 'error\]|Exception' "$VLOG" | tail -20 >&2 || true
  echo "[selfcheck] FATAL: Verify run failed (see above)" >&2
  exit 1
fi
grep -E '\[verify\]' "$VLOG" || true

echo "[selfcheck] oracle replay -> CORRECTNESS_SELF_r${ROUND}.json"
python3 dev/compare.py "$SF_DIR" "$OUT" --json "CORRECTNESS_SELF_r${ROUND}.json" \
  | tail -3

rm -rf "$OUT"
echo "[selfcheck] done: CORRECTNESS_SELF_r${ROUND}.json"
