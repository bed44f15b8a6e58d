#!/usr/bin/env bash
# Round-close gate, scripted (VERDICT r13 #8 / ADVICE r12 #5): one command
# that runs the full builder-side correctness gate and emits the SWEEP.md
# line, so no commit gate can silently skip a channel.
#
#   1. sbt compile (fails the gate on any compile error)
#   2. optional: sbt test (skip with ROUND_CLOSE_SKIP_TESTS=1 when the
#      suite already ran green on the same tree — say so in the note)
#   3. graft.Verify at sf0.01 (concurrent dump, all 185 entries)
#   4. tools/check.py — the dtype-strict DuckDB compare;
#      fails on any FAIL or EMPTY entry
#   5. prints the SWEEP line (appends to SWEEP.md with ROUND_CLOSE_APPEND=1)
#
# Usage: tools/round_close.sh <round> [note...]
#   e.g. tools/round_close.sh r14 "post-chunked-output sweep"
set -uo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:?usage: tools/round_close.sh <round> [note]}"
shift || true
NOTE="${*:-}"

fail() { echo "ROUND-CLOSE FAIL: $*" >&2; exit 1; }

sbt compile > /tmp/round_close_compile.log 2>&1 \
  || fail "sbt compile failed (see /tmp/round_close_compile.log)"

TESTS="tests skipped (ROUND_CLOSE_SKIP_TESTS=1)"
if [ "${ROUND_CLOSE_SKIP_TESTS:-0}" != "1" ]; then
  sbt test > /tmp/round_close_test.log 2>&1 \
    || fail "sbt test failed (see /tmp/round_close_test.log)"
  n_tests=$(grep -Eo 'Tests: succeeded [0-9]+' /tmp/round_close_test.log \
    | awk '{s+=$3} END {print s}')
  [ -n "$n_tests" ] \
    || fail "no 'Tests: succeeded N' count in the test log (see /tmp/round_close_test.log)"
  TESTS="$n_tests tests green"
fi

OUT=$(mktemp -d /tmp/round_close_verify.XXXXXX)
tools/run_main.sh graft.Verify /root/testdata/sf0.01 "$OUT" \
  > "$OUT/verify.log" 2>&1 \
  || fail "graft.Verify exited nonzero (see $OUT/verify.log)"

rc=0
python3 tools/check.py /root/testdata/sf0.01 "$OUT" > "$OUT/check.log" 2>&1 || rc=$?
grep -E '^(FAIL|EMPTY)' "$OUT/check.log" >&2 || true
tally=$(grep -Eo '== [0-9]+ pass, [0-9]+ fail, [0-9]+ rows-only ==' "$OUT/check.log" | tail -1)
[ -n "$tally" ] || fail "check.py produced no tally (rc=$rc, see $OUT/check.log)"
pass=$(echo "$tally" | awk '{print $2}')
failn=$(echo "$tally" | awk '{print $4}' | tr -d ',')
rows=$(echo "$tally" | awk '{print $6}' | tr -d ',')
total=$((pass + failn + rows))
[ "$rc" -eq 0 ] || fail "check.py exited nonzero ($rc): $tally (see $OUT/check.log)"
[ "$failn" -eq 0 ] || fail "oracle compare has $failn FAIL entries: $tally"
# rows-only entries must have rows: an empty result counts as a failure
empty=$(grep -c '^EMPTY' "$OUT/check.log" || true)
[ "$empty" -eq 0 ] || fail "oracle compare has $empty EMPTY rows-only entries: $tally"

SHA=$(git rev-parse --short HEAD 2>/dev/null || echo unknown)
DIRTY=""
git diff --quiet 2>/dev/null || DIRTY="+wip"
LINE="- $ROUND $(date -u +%F) $SHA$DIRTY — $pass hash-PASS / $failn FAIL / $rows rows-only (of $total) — ${NOTE:-scripted round-close gate}; $TESTS."
echo "$LINE"
if [ "${ROUND_CLOSE_APPEND:-0}" = "1" ]; then
  echo "$LINE" >> SWEEP.md
  echo "(appended to SWEEP.md)"
fi
echo "ROUND-CLOSE PASS ($OUT kept for inspection)"
