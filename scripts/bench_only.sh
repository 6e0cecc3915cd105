#!/bin/bash
# Isolated per-query bench: fresh JVM, given queries only.
# Usage: scripts/bench_only.sh q1,q2,... [warm_runs]
set -u
Q="$1"
WR="${2:-3}"
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
SPARK_GRAFT_ONLY="$Q" \
SPARK_GRAFT_WARM_RUNS="$WR" \
SPARK_GRAFT_BENCH_OUT=/tmp/bench_only.json \
exec "$(dirname "$0")/run_main.sh" graft.Bench
