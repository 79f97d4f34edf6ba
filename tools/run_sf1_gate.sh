#!/usr/bin/env bash
# One-command sf1 correctness gate (VERDICT r13 #5): builds the sf1
# scale dir if missing, runs the full registry through graft.Verify,
# then oracle-checks every query in DuckDB with the knobs the r13 run
# proved out (threads/memory caps + a big-disk temp dir — the sf1
# DuckDB pass spills; /tmp fills otherwise). Produces a
# CORRECTNESS-equivalent log at tools/../SF1_GATE.log.
#
# Usage:  tools/run_sf1_gate.sh [--only=name1,name2]
# Defaults are sized to the host: Spark cores and DuckDB threads from
# nproc; the Spark driver heap from MemTotal as the tier-1 command sizes
# it (half, 2-8 GB); DuckDB memory at half of MemTotal (the two sides
# run one after the other). SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM,
# DUCKDB_THREADS, DUCKDB_MEMLIMIT and DUCKDB_TEMPDIR override them.
# Budget: ~20 min Spark side + ~75 min DuckDB side for the full
#         registry on 32 cpus (r13 measurement). NEVER run
#         concurrently with graft.Bench (documented ~20% inflation).
set -euo pipefail
cd "$(dirname "$0")/.."

SF1=benchdata/sf1
OUT=/tmp/verify_sf1
ONLY="${1:-}"
# --only runs log to a side file: the committed SF1_GATE.log is the
# FULL-registry artifact, and tee would truncate it (bit r15: a 1-query
# spot-check wiped the 273-query log).
if [ -n "$ONLY" ]; then LOG=SF1_GATE.only.log; else LOG=SF1_GATE.log; fi

if [ ! -d "$SF1" ]; then
  echo "[sf1-gate] building $SF1 (make_sf1.py)..."
  python3 tools/make_sf1.py
fi

echo "[sf1-gate] $(date -u +%FT%TZ) Spark side: full registry at sf1" \
  | tee "$LOG"
rm -rf "$OUT"
NAMES="${ONLY#--only=}"
CPUS="$(env -u OMP_NUM_THREADS nproc)"
MEM_KB="$(awk '/^MemTotal:/ {print $2}' /proc/meminfo)"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$CPUS}" \
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk -v k="$MEM_KB" 'BEGIN {
  g = int(k / 2097152); print (g < 2 ? 2 : g > 8 ? 8 : g) "g" }')}" \
  sbt -batch "runMain graft.Verify $SF1 $OUT ${NAMES}" 2>&1 \
  | grep -E "\[verify\]|success|error" | tee -a "$LOG" | tail -3

echo "[sf1-gate] $(date -u +%FT%TZ) DuckDB side (threads/mem capped, " \
  "temp on the big partition)" | tee -a "$LOG"
DUCKDB_THREADS="${DUCKDB_THREADS:-$CPUS}" \
DUCKDB_MEMLIMIT="${DUCKDB_MEMLIMIT:-$(awk -v k="$MEM_KB" 'BEGIN {
  g = int(k / 2097152); print (g < 1 ? 1 : g) "GB" }')}" \
DUCKDB_TEMPDIR="${DUCKDB_TEMPDIR:-/root/repo/benchdata/duckdb_tmp}" \
  python3 tools/check_oracle.py "$SF1" "$OUT" \
    ${ONLY:+"$ONLY"} 2>&1 | tee -a "$LOG" | tail -3

echo "[sf1-gate] $(date -u +%FT%TZ) done — full log in $LOG"
