#!/usr/bin/env bash
# Round-end hygiene gate (r18): runs the full documented checklist in
# one command and fails fast on the first red gate.
#
#   bash tools/roundend.sh [sf ...]
#
# With no args it runs the mirrors at all three scale factors
# (sf0.001 sf0.01 sf0.1); pass a subset (e.g. sf0.001) for a quick
# plumbing check. The audits always run at sf0.01, plus DupSubtreeAudit
# additionally at sf0.1 (r17 verdict: subtree shapes can differ when
# size-based join selection sees different file sizes). The bench sweep
# is NOT included — it is its own ~15 min step (harness_sec 883-956 s at
# sf0.1 with SPARK_GRAFT_CPUS=4 on a 4-core host) with its own validity
# protocol (see CLAUDE.md); run it separately and commit bench_full.json.
set -euo pipefail
cd "$(dirname "$0")/.."

SFS=("$@")
[ ${#SFS[@]} -eq 0 ] && SFS=(sf0.001 sf0.01 sf0.1)

echo "== 1/6 ScalaTest suite"
sbt -batch test > /tmp/roundend_test.log 2>&1 \
  || { tail -20 /tmp/roundend_test.log; exit 1; }
grep -E "Tests: succeeded" /tmp/roundend_test.log | tail -1

echo "== 2/6 Verify + DuckDB mirror (${SFS[*]})"
for sf in "${SFS[@]}"; do
  SPARK_GRAFT_CPUS=8 sbt -batch \
    "runMain graft.Verify /root/testdata/$sf /tmp/roundend_$sf" \
    > /tmp/roundend_verify_$sf.log 2>&1 \
    || { tail -20 /tmp/roundend_verify_$sf.log; exit 1; }
  python3 tools/check_correctness.py /root/testdata/$sf /tmp/roundend_$sf \
    | tail -1
done

echo "== 3/6 Oracle output-type audit"
python3 tools/oracle_types.py /root/testdata/${SFS[0]} /tmp/roundend_${SFS[0]} | tail -1

echo "== 4/6 Plan / Persist / DupSubtree audits"
# r18 ADVICE: keep the audits' full output (incl. the flagged query /
# subtree diagnostic lines and stderr) in a log and surface its tail on
# a red gate instead of suppressing everything but the last line.
audit() {
  local tag="$1"; shift
  local log="/tmp/roundend_${tag}.log"
  if "$@" > "$log" 2>&1; then
    # grep may match nothing (exit 1) without that being a red gate
    { grep -v '^\[' "$log" || true; } | tail -1
  else
    echo "AUDIT $tag FAILED — last 20 lines of $log:"
    tail -20 "$log"
    exit 1
  fi
}
audit planaudit env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  sbt -batch "runMain graft.tools.PlanAudit"
audit persistaudit env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  sbt -batch "runMain graft.tools.PersistAudit"
audit dupsubtree_sf001 env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  sbt -batch "runMain graft.tools.DupSubtreeAudit"
audit dupsubtree_sf01 env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  sbt -batch "runMain graft.tools.DupSubtreeAudit"

echo "== 5/6 Registry/oracle entry check"
audit entrycheck sbt -batch "runMain graft.tools.EntryCheck"

echo "== 6/6 Driver bench-contract check"
python3 tools/contract_check.py

echo "ROUNDEND PASS: all gates green (${SFS[*]})"
