#!/bin/bash
# Local dev harness: run graft.Verify on a fixture dir, then hash-compare
# each query's parquet against its DuckDB oracle (tools/parity.py).
# Usage: tools/verify.sh [sfDir] [outDir]
set -e
SF=${1:-/root/testdata/sf0.001}
OUT=${2:-/tmp/graft_verify}
cd "$(dirname "$0")/.."
sbt -batch compile -warn >/dev/null
. tools/env.sh
rm -rf "$OUT"
java $ADD_OPENS -Xmx$HEAP \
  -cp "$CP" graft.Verify "$SF" "$OUT" ${GRAFT_ONLY:+"$GRAFT_ONLY"}
python3 tools/parity.py "$SF" "$OUT"
