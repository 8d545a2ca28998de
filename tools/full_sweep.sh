#!/bin/bash
# Full correctness sweep at every driver scale factor — the round-10
# verdict asked that sf0.1 parity run every round (BASELINE.md cites a
# mid-round 117/117 sf0.1 pass), so scale-sensitive rounding bugs can't
# hide below the driver's sf0.01 gate. Runs graft.Verify + the DuckDB
# oracle compare per SF and prints one summary line each. The census
# (tools/param_census.py: parameters, defs, doc blocks, oracle repeats,
# schemaless parquet reads, sessions built outside GraftSession) gates
# the sweep first.
#
# Usage: tools/full_sweep.sh [sf...]   (default: 0.001 0.01 0.1)
set -u
cd "$(dirname "$0")/.."
SFS=${@:-"0.001 0.01 0.1"}
# a default only specs set is a constant; a def only specs call is deleted
python3 tools/param_census.py > /dev/null || exit 1
sbt -batch compile || exit 1
overall=0
for sf in $SFS; do
  out="/tmp/graft-sweep-sf$sf"
  rm -rf "$out"
  sbt -batch "runMain graft.Verify /root/testdata/sf$sf $out" \
    > "/tmp/graft-sweep-verify-$sf.log" 2>&1
  rc=$?
  python3 tools/parity_check.py "/root/testdata/sf$sf" "$out" \
    > "/tmp/graft-sweep-parity-$sf.log" 2>&1
  prc=$?
  ok=$(grep -c '^ok' "/tmp/graft-sweep-parity-$sf.log")
  fails=$(grep -c '^FAIL' "/tmp/graft-sweep-parity-$sf.log")
  rows=$(grep -c '^rows' "/tmp/graft-sweep-parity-$sf.log")
  echo "sf$sf: $ok hash-ok, $fails failed, $rows rows-only (verify rc=$rc, parity rc=$prc)"
  [ "$prc" -ne 0 ] && overall=1
done
exit $overall
