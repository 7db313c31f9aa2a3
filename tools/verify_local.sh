#!/bin/bash
# Correctness gate: runs the full Verify dump and the DuckDB compare.
#
#   tools/verify_local.sh [SF] [OUT] [name...]
#
# SF defaults to /root/testdata/sf0.01, OUT to /tmp/verify_local_out.
# Without names every query is compared and the per-query rows/schema/hash
# verdicts are written to VERIFY_LOCAL.json at the repo root. With names
# (e.g. `tools/verify_local.sh "" "" knn_batch grid_knn_batch`) only those
# queries are compared and VERIFY_LOCAL.json is left as it is, so a subset
# never overwrites the record of a full run. Verify itself always dumps
# every query.
set -e
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/verify_local_out}"
shift $(( $# < 2 ? $# : 2 ))
rm -rf "$OUT"
sbt --error "runMain graft.Verify $SF $OUT"
if [ $# -eq 0 ]; then
  python3 tools/compare.py "$SF" "$OUT" --json VERIFY_LOCAL.json
else
  python3 tools/compare.py "$SF" "$OUT" "$@"
fi
