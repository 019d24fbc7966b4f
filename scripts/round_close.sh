#!/usr/bin/env bash
# The mandatory round-close gate chain, one command (ADVICE r17 #3:
# the default `sbt test` samples the query smoke and gates settled
# heavy pins behind GRAFT_FULL_SMOKE=1, so a settled-wave regression
# can hide behind a green default run — this script IS the scheduled
# job that bounds that window; run it at every round close and after
# any wide refactor touching shared helpers).
#
# Usage: scripts/round_close.sh [sfdir=/root/testdata/sf0.01]
# Serializes sbt (two sbt processes contend on this repo); exits
# nonzero on the first red gate.
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
echo "== 1/5 full-smoke test suite (GRAFT_FULL_SMOKE=1 sbt test)"
GRAFT_FULL_SMOKE=1 sbt -batch test 2>&1 | tail -5
echo "== 2/5 reference-diff (J1/J2)"
python3 scripts/ref_consolidate_fixture.py > /tmp/ref_out.txt
sbt -batch "runMain graft.VerifyConsolidate" 2>/dev/null \
  | sed 's/^\[info\] //' | grep -E '^\{|^== ' > /tmp/spark_out.txt
python3 scripts/diff_consolidate.py /tmp/ref_out.txt /tmp/spark_out.txt
echo "== 3/5 full registry dump at $SF"
rm -rf /tmp/close_verify
sbt -batch "runMain graft.Verify $SF /tmp/close_verify" 2>&1 | tail -1
# Verify records each query that threw in failures.json; a missing
# file (Verify died) or a non-empty object fails the gate
python3 -c 'import json, sys
f = json.load(open(sys.argv[1]))
for k, v in sorted(f.items()): print(f"FAILED {k}: {v[:200]}")
sys.exit(1 if f else 0)' /tmp/close_verify/failures.json
echo "== 4/5 DuckDB oracle over the full registry"
# every line but a plain MATCH: failures (MISSING included) and the
# summary
python3 scripts/verify_local.py "$SF" /tmp/close_verify 2>/dev/null \
  | grep -vE ": MATCH \("
echo "== 5/5 bench at sf0.1 (local[32]) -> bench_detail.json"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" \
  2>/dev/null | tail -1
echo "== round_close: all gates ran; commit bench_detail.json as BENCH_DETAIL_r{N}.json"
