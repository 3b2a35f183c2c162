#!/bin/bash
# Snapshot gate (VERDICT r11 #9): never end a round on a commit that has
# not passed `sbt compile` + the quick oracle battery. Run this before
# the end-of-round snapshot commit; a non-zero exit means DO NOT SNAPSHOT.
#
#   tools/snapshot_gate.sh            # quick gate: compile + sf0.001 battery
#   GATE_SF=sf0.01 tools/snapshot_gate.sh   # the driver-grade battery
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${GATE_SF:-sf0.001}"
OUT="/tmp/snapshot_gate_out"

echo "[gate] sbt compile"
sbt -batch compile

echo "[gate] no unreached public defs"
python3 tools/uncalled_api.py

echo "[gate] correctness battery at $SF"
rm -rf "$OUT"
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify /root/testdata/$SF $OUT"
python3 tools/check_oracle.py "/root/testdata/$SF" "$OUT"

echo "[gate] SNAPSHOT GATE: PASS"
