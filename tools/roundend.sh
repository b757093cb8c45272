#!/usr/bin/env bash
# Round-end hygiene gate (r18): runs the full documented checklist in
# one command and fails fast on the first red gate.
#
#   bash tools/roundend.sh [sf ...]
#
# With no args it runs the mirrors at all three scale factors
# (sf0.001 sf0.01 sf0.1); pass a subset (e.g. sf0.001) for a quick
# plumbing check. The registry audit (graft.tools.Audit) always runs at
# sf0.01 and at sf0.1, the bench's scale: subtree shapes can differ when
# size-based join selection sees different file sizes. A two-entry
# SPARK_GRAFT_BENCH_ONLY subset at sf0.001 runs the bench's forked
# protocol end to end (parent, one fleet child, protocol file, merge,
# artifact lines). The full bench sweep is NOT included — it is its own
# ~15 min step (harness_sec 883-956 s at sf0.1 with SPARK_GRAFT_CPUS=4
# on a 4-core host) with its own validity protocol (see CLAUDE.md); run
# it separately and commit bench_full.json.
set -euo pipefail
cd "$(dirname "$0")/.."

SFS=("$@")
[ ${#SFS[@]} -eq 0 ] && SFS=(sf0.001 sf0.01 sf0.1)

echo "== 1/5 ScalaTest suite"
sbt -batch test > /tmp/roundend_test.log 2>&1 \
  || { tail -20 /tmp/roundend_test.log; exit 1; }
grep -E "Tests: succeeded" /tmp/roundend_test.log | tail -1

echo "== 2/5 Verify + DuckDB mirror (${SFS[*]}) + oracle output types"
for sf in "${SFS[@]}"; do
  SPARK_GRAFT_CPUS=8 sbt -batch \
    "runMain graft.Verify /root/testdata/$sf /tmp/roundend_$sf" \
    > /tmp/roundend_verify_$sf.log 2>&1 \
    || { tail -20 /tmp/roundend_verify_$sf.log; exit 1; }
  python3 tools/check_correctness.py /root/testdata/$sf /tmp/roundend_$sf \
    | tail -1
done

python3 tools/oracle_types.py /root/testdata/${SFS[0]} /tmp/roundend_${SFS[0]} | tail -1

echo "== 3/5 Registry audit (plan, duplicated subtree, persist) at sf0.01 and sf0.1"
# keep the audit's full output (incl. the flagged query lines and
# stderr) in a log and surface its tail on a red gate
for sf in sf0.01 sf0.1; do
  log="/tmp/roundend_audit_$sf.log"
  if SPARK_GRAFT_SF_DIR=/root/testdata/$sf sbt -batch "runMain graft.tools.Audit" > "$log" 2>&1; then
    grep -E '^AUDIT (WARN|PASS)' "$log"
  else
    echo "AUDIT $sf FAILED — last 20 lines of $log:"
    tail -20 "$log"
    exit 1
  fi
done

echo "== 4/5 Forked bench subset (q1_agg, d3_minhash_lsh at sf0.001)"
# the contract check on a real subset run: its last stdout line must pass
# the driver's contract with no "failed" key and account for both
# entries; and a subset run must leave bench_full.json unchanged
before=$(sha256sum bench_full.json)
python3 tools/contract_check.py --main graft.Bench \
  --env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
  --env SPARK_GRAFT_BENCH_ONLY=q1_agg,d3_minhash_lsh --expect q1_agg,d3_minhash_lsh
[ "$(sha256sum bench_full.json)" = "$before" ] \
  || { echo "BENCH SUBSET FAIL: a subset run changed bench_full.json"; exit 1; }

echo "== 5/5 Driver bench-contract check"
python3 tools/contract_check.py

echo "ROUNDEND PASS: all gates green (${SFS[*]})"
