#!/usr/bin/env bash
# One-command local correctness gate — run before the final bench commit of
# each round (the r8 cadence, scripted).
#
#   scripts/gate.sh [sfDir] [lane...]   # sfDir defaults to the sf0.01 test data
#
# Lane names (SparkEntry.queries keys, or bare numbers such as q230 q233
# q239) limit step 2 to those lanes, so step 3 checks only their outputs;
# with none, every lane runs.
#
# Steps (any failure aborts with nonzero exit):
#   1. sbt test                 — full ScalaTest suite
#   2. graft.Verify <sfDir>     — every SparkEntry.queries lane -> parquet
#   3. oracle_check.py          — dtype-strict DuckDB compare (the same
#                                 check the grading driver performs)
#   4. graft.tools.Probe        — fixedwidth edge-case surface
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.01}"
LANES="${*:2}"
OUT_DIR="$(mktemp -d /tmp/graft-gate.XXXXXX)"
trap 'rm -rf "$OUT_DIR"' EXIT

echo "== gate: sbt test =="
sbt -batch test 2>&1 | grep -E "^\[info\] (Tests:|Suites:|All tests)|^\[error\]" | tail -5

echo "== gate: Verify${LANES:+ $LANES} -> $OUT_DIR =="
sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR${LANES:+ $LANES}" 2>&1 \
  | { grep -E '\[verify\].*failed' && { echo "gate: Verify reported failures"; exit 1; } || true; }

echo "== gate: oracle check (dtype-strict) =="
python3 scripts/oracle_check.py "$SF_DIR" "$OUT_DIR" | tail -3

echo "== gate: Probe edge cases =="
PROBE_LOG="$OUT_DIR/probe.log"
if ! sbt -batch "runMain graft.tools.Probe" >"$PROBE_LOG" 2>&1; then
  tail -20 "$PROBE_LOG"
  echo "gate: Probe run failed (sbt exited non-zero)"; exit 1
fi
PROBE_OUT="$(grep "PROBE" "$PROBE_LOG" || true)"
echo "$PROBE_OUT" | tail -3
if echo "$PROBE_OUT" | grep -q "NO-ERROR (unexpected)"; then
  echo "gate: Probe found an unexpected NO-ERROR case"; exit 1
fi
N_PROBE="$(echo "$PROBE_OUT" | grep -c "PROBE" || true)"
if [ "$N_PROBE" -eq 0 ]; then
  echo "gate: Probe printed no PROBE lines"; exit 1
fi
echo "gate: $N_PROBE probe cases, all intended"
echo "== gate: PASS =="
