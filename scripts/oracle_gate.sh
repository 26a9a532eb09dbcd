#!/usr/bin/env bash
# DuckDB oracle gate: run every graft.Verify slot over one sf directory into a
# fresh output directory, then compare each output with its oracle SQL
# (scripts/oracle_check.py). Exits non-zero on any FAIL, including a slot that
# threw in Verify and so left no output.
#
# Usage: scripts/oracle_gate.sh <sfDir> [outDir]
#   outDir defaults to a new temporary directory; a given outDir must be
#   absent or empty, so stale outputs cannot stand in for missing ones.
# Needs sbt (with whatever SBT_OPTS the build requires) and python3 with
# duckdb + pandas. SPARK_GRAFT_CPUS sets Verify's local[N] (default 8).
set -euo pipefail

if [ $# -lt 1 ] || [ $# -gt 2 ]; then
  echo "usage: $0 <sfDir> [outDir]" >&2
  exit 2
fi
sf="$(cd "$1" && pwd)"
if [ $# -eq 2 ]; then
  mkdir -p "$2"
  if [ -n "$(ls -A "$2")" ]; then
    echo "oracle_gate: output directory $2 is not empty" >&2
    exit 2
  fi
  out="$(cd "$2" && pwd)"
else
  out="$(mktemp -d -t oracle-gate.XXXXXX)"
fi
cd "$(dirname "$0")/.."

echo "oracle_gate: Verify $sf -> $out" >&2
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-4g}" sbt -batch "runMain graft.Verify $sf $out"
python3 scripts/oracle_check.py "$sf" "$out"
