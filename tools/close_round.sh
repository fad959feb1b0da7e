#!/usr/bin/env bash
# Round-closing gate (VERDICT r13 #1: the r13 closing "audit clean"
# claim was stale because the audit last ran BEFORE the final plan
# change). Run this as the LAST step of a round, after the final
# commit candidate is staged — every claim in the closing status must
# come from THIS run, not an earlier one.
#
#   bash tools/close_round.sh [sf_dir]
#
# Exits non-zero if any gate fails:
#   1. explain_audit exit 0 on the final tree (hard plan invariants)
#   2. full-catalog oracle sweep at sf_dir (driver-gate replica)
#   3. full pytest
set -u
SF_DIR="${1:-/root/testdata/sf0.01}"
cd "$(dirname "$0")/.."
rc=0

echo "== gate 1/3: explain_audit (final tree) =="
python tools/explain_audit.py > /tmp/close_audit.log 2>&1
a=$?
tail -2 /tmp/close_audit.log
[ $a -ne 0 ] && { echo "FAIL explain_audit (exit $a)"; rc=1; }

echo "== gate 2/3: full-catalog oracle sweep at $SF_DIR =="
python tools/check_oracle.py "$SF_DIR" > /tmp/close_oracle.log 2>&1
o=$?
grep -c '^OK ' /tmp/close_oracle.log | xargs -I{} echo "{} entries OK"
grep -E "FAIL |^WARN" /tmp/close_oracle.log | head -20
[ $o -ne 0 ] && { echo "FAIL check_oracle (exit $o)"; rc=1; }

echo "== gate 3/3: full pytest =="
python -m pytest tests/ -q > /tmp/close_pytest.log 2>&1
p=$?
tail -2 /tmp/close_pytest.log
[ $p -ne 0 ] && { echo "FAIL pytest (exit $p)"; rc=1; }

if [ $rc -eq 0 ]; then
  echo "== ALL CLOSING GATES GREEN =="
else
  echo "== CLOSING GATES FAILED (see /tmp/close_*.log) =="
fi
exit $rc
