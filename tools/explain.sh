#!/bin/bash
# Plan dump for plan-identity checks: run graft.Explain on a fixture dir
# (one <query>.txt of explain("formatted") per query), then mask the
# tokens that change from run to run, so that `diff -r` of two dumps
# shows only real plan changes.
# Usage: tools/explain.sh <sfDir> <outDir> [query,query,...]
#
# Not reproducible in a full run: q_distinct_agg and q_outer_join order
# their Expand projections by expression-id hash, which depends on how
# many expressions earlier queries in the same JVM created. Compare
# those two dumped alone on both sides:
#   tools/explain.sh <sfDir> <outDir> q_distinct_agg,q_outer_join
#
# Oracle text: graft.Verify (tools/verify.sh) writes every query's DuckDB
# SQL to <outDir>/oracle_sql.json. Compare two of them key by key with
#   python3 -c 'import json, sys
#   a, b = (json.load(open(f)) for f in sys.argv[1:])
#   print("only one side:", sorted(a.keys() ^ b.keys()))
#   print("differ:", sorted(k for k in a.keys() & b.keys() if a[k] != b[k]))' A.json B.json
set -e
if [ $# -lt 2 ] || [ $# -gt 3 ]; then
  echo "Usage: tools/explain.sh <sfDir> <outDir> [query,query,...]" >&2
  exit 2
fi
SF=$(realpath -m "$1")
OUT=$(realpath -m "$2")
cd "$(dirname "$0")/.."
sbt -batch compile -warn >/dev/null
. tools/env.sh
rm -rf "$OUT"
java $ADD_OPENS -Xmx$HEAP \
  -cp "$CP" graft.Explain "$SF" "$OUT" ${3:+"$3"}
# Masked: expression ids (#12), plan ids (plan_id=3), the local-<millis>
# application id in temp table and path names (local_<millis> once
# sanitized), lambda class names, numbered lambda variables (x_632),
# object hash codes (…@1b2c3d4) and RDD ids (MapPartitionsRDD[551], which
# count the RDDs earlier queries in the same run created).
find "$OUT" -name '*.txt' -exec sed -i -E \
  -e 's/#[0-9]+/#N/g' \
  -e 's/plan_id=[0-9]+/plan_id=N/g' \
  -e 's/local([-_])[0-9]+/local\1N/g' \
  -e 's/\$\$Lambda[^ ,)@]*/$$Lambda/g' \
  -e 's/(lambda [a-z]+)_[0-9]+/\1_N/g' \
  -e 's/@[0-9a-f]{4,}\b/@H/g' \
  -e 's/RDD\[[0-9]+\]/RDD[N]/g' {} +
