#!/usr/bin/env bash
# Full local gate: compile, specs, the perfbench self-test, oracle parity
# (sf0.01), bench (sf0.1).
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch test 2>&1 | grep -E "^\[info\] Tests: " || exit 1
# pins the benchmark's metric contract, including the replay and
# checkpoint counts the TxLog checkpoint policy produces
(cd perfbench && sbt -batch test) 2>&1 | grep -E "^\[info\] Tests: " || exit 1
rm -rf /tmp/graft_verify
sbt -batch 'runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_verify' >/dev/null 2>&1
python3 tools/parity.py /root/testdata/sf0.01 /tmp/graft_verify
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-16} \
  sbt -batch 'runMain graft.Bench' 2>/dev/null | grep '"metric"'
