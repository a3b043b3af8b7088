#!/bin/bash
# Local bench harness: run graft.Bench (min-of-3 protocol) on a fixture dir.
# Usage: tools/bench.sh [sfDir] [outFile]
# Keep the host otherwise idle during official recordings.
set -e
SF=${1:-/root/testdata/sf0.1}
OUT=${2:-bench_out.json}
cd "$(dirname "$0")/.."
sbt -batch compile -warn >/dev/null
. tools/env.sh
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_BENCH_OUT="$OUT" java $ADD_OPENS -Xmx$HEAP \
  -cp "$CP" graft.Bench
