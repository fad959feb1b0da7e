#!/bin/bash
# Sweep a list of catalog entries through the gate replica at a
# scale fixture (default sf1-equivalent), chunked so each Spark
# application's scaffolding stays bounded. Usage:
#   tools/sweep_sf1eq.sh <entry-list-file> <log-file> [chunk-size] [fixture-dir]
set -u
LIST="$1"; LOG="$2"; CHUNK="${3:-16}"; FIXTURE="${4:-.scale/sf1eq}"
cd "$(dirname "$0")/.."
mapfile -t ENTRIES < "$LIST"
total=${#ENTRIES[@]}
echo "sweep start: $total entries, chunk=$CHUNK, fixture=$FIXTURE" | tee -a "$LOG"
for ((i=0; i<total; i+=CHUNK)); do
  chunk=("${ENTRIES[@]:i:CHUNK}")
  echo "=== chunk $((i/CHUNK+1)): ${chunk[*]}" | tee -a "$LOG"
  timeout 3000 python tools/check_oracle.py "$FIXTURE" "${chunk[@]}" >> "$LOG" 2>&1
  echo "=== chunk $((i/CHUNK+1)) exit=$?" | tee -a "$LOG"
done
echo "sweep done" | tee -a "$LOG"
