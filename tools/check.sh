#!/usr/bin/env bash
# Full local gate: compile, specs, the perfbench self-test, oracle parity
# (sf0.01), bench (sf0.1). A failing step names itself and prints the
# tail of its log; every step's full log stays in the printed log dir.
set -euo pipefail
cd "$(dirname "$0")/.."
LOGS=$(mktemp -d "${TMPDIR:-/tmp}/graft_check.XXXXXX")
echo "check.sh: step logs in $LOGS"

# step <name> <command...>: run the command with its output in <name>.log
step() {
  local name=$1 rc=0; shift
  "$@" > "$LOGS/$name.log" 2>&1 || rc=$?
  if [ "$rc" -ne 0 ]; then
    echo "check.sh: step '$name' failed (exit $rc); last lines of $LOGS/$name.log:" >&2
    tail -n 40 "$LOGS/$name.log" >&2
    exit 1
  fi
}

step specs sbt -batch test
grep -E "^\[info\] Tests: " "$LOGS/specs.log"
# pins the benchmark's metric contract, including the replay and
# checkpoint counts the TxLog checkpoint policy produces
step perfbench-selftest bash -c 'cd perfbench && sbt -batch test'
grep -E "^\[info\] Tests: " "$LOGS/perfbench-selftest.log"
rm -rf /tmp/graft_verify
step verify sbt -batch "runMain graft.Verify $HOME/testdata/sf0.01 /tmp/graft_verify"
# the Column front doors build their expressions without the session
# function registry; a call that rewrites it logs this WARN every time
if grep -q 'replaced a previously registered function' "$LOGS/verify.log"; then
  echo "check.sh: step 'verify' rewrote session functions (count, function):" >&2
  grep -o 'The function [^ ]* replaced' "$LOGS/verify.log" | sort | uniq -c >&2
  exit 1
fi
python3 tools/parity.py "$HOME/testdata/sf0.01" /tmp/graft_verify
step bench env SPARK_GRAFT_SF_DIR="$HOME/testdata/sf0.1" \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" sbt -batch 'runMain graft.Bench'
grep '"metric"' "$LOGS/bench.log"
