#!/usr/bin/env bash
# Full local CI for the graft engine: everything the driver will run,
# plus the test suite and plan audit. Exits nonzero on any failure.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== baseline series refresh (BASELINE.json.rounds; r12 verdict #3: never hand-lagged) =="
python3 tools/baseline_series.py | tail -1

echo "== tests =="
sbt -batch test 2>&1 | grep -E "Tests: succeeded|\*\*\* FAILED" | tail -2

echo "== benchmark package tests (perfbench/tests) =="
python3 -m unittest discover -s perfbench/tests 2>&1 | tail -1

echo "== verify + oracle @ sf0.01 =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gauntlet_001" >/dev/null 2>&1
python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/gauntlet_001 | tail -1

echo "== verify + oracle @ sf0.001 (smoke) =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/gauntlet_0001" >/dev/null 2>&1
python3 tools/check_oracle.py /root/testdata/sf0.001 /tmp/gauntlet_0001 | tail -1

echo "== bench @ sf0.1 (32 threads) =="
SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench" 2>&1 \
  | grep -E '"metric"' | tail -1 | sed 's/^\[info\] //' \
  | python3 -c "import json,sys; d=json.load(sys.stdin); print(f'total {d[\"value\"]:.1f}s  isolated {d[\"isolated_total\"]:.1f}s  interval_index {d[\"interval_index\"]}  queries {len(d[\"queries\"])}  max {max(d[\"queries\"].values()):.2f}s')"

echo "== plan audit (executed: runtime joins + codegen coverage; cartesian check) =="
sbt -batch "runMain graft.Explain all /root/testdata/sf0.01 exec" 2>&1 \
  | grep "\[audit\]" > /tmp/gauntlet_audit.txt
! grep -E "cart=|FAILED" /tmp/gauntlet_audit.txt && echo "no cartesians, no failures"
# informational (not a gate — empty-at-this-SF results collapse to
# EmptyRelation with nothing to codegen): queries with no codegen span
grep -v "wscg=" /tmp/gauntlet_audit.txt \
  | sed 's/^.*\[audit\] /[no-codegen] /' || true
