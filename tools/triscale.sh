#!/bin/bash
# Tri-scale oracle sweep: run EVERY SparkEntry query through graft.Verify
# at the two small scale factors and oracle-check both against DuckDB.
#
# Why: a scale-dependent float fold (r7's q_abc_analysis) passes at the
# driver's single gate scale (sf0.01) while silently diverging at another
# — the per-sf DuckDB compare catches exactly that class. Run this before
# every end-of-round snapshot (and after touching any rounded aggregate).
#
# Usage: tools/triscale.sh [outRoot]   (default /tmp/graft_triscale)
# Exit code is non-zero if any scale has a mismatch.
set -u
cd "$(dirname "$0")/.."
OUT="${1:-/tmp/graft_triscale}"
fail=0
for sf in sf0.001 sf0.01; do
  dir="/root/testdata/$sf"
  out="$OUT/$sf"
  echo "== $sf: verify dump =="
  if ! sbt -batch "runMain graft.Verify $dir $out" >"$OUT.$sf.verify.log" 2>&1; then
    echo "!! $sf: graft.Verify exited non-zero (see $OUT.$sf.verify.log)"
    fail=1
  fi
  if grep -q "\[verify\].*failed\|\[verify\].*TIMED OUT" "$OUT.$sf.verify.log"; then
    echo "!! $sf: query failures in $OUT.$sf.verify.log"
    grep "\[verify\]" "$OUT.$sf.verify.log" | head
    fail=1
  fi
  echo "== $sf: DuckDB oracle compare =="
  # the compare's own exit status, not tail's: a pipeline reports its
  # last command unless pipefail is set
  python3 tools/check_oracle.py "$dir" "$out" >"$OUT.$sf.oracle.log" 2>&1
  rc=$?
  grep -E "^\[(FAIL |ERROR|MISS |TYPE )\]" "$OUT.$sf.oracle.log" | head -20
  tail -2 "$OUT.$sf.oracle.log"
  if [ $rc -ne 0 ]; then
    fail=1
  fi
done
exit $fail
