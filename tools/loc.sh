#!/usr/bin/env bash
# Code-line census of the Scala sources.
#
#   tools/loc.sh [file...]
#
# A code line is a non-blank line that is not a comment-only line
# (one starting, after indentation, with `//`, `/*` or `*`). Prints the
# count for all of src/main/scala, for the scale-ladder and bench
# harnesses (Stress*, MaintenanceLadder, Bench, BenchOne), then for each
# file given as an argument.
set -euo pipefail

here=$(cd "$(dirname "$0")/.." && pwd)
main="$here/src/main/scala"

count() { cat "$@" | grep -cvE '^\s*($|//|/\*|\*)' || true; }

printf '%7d  %s\n' "$(count $(find "$main" -name '*.scala'))" "src/main/scala"
printf '%7d  %s\n' "$(count "$main"/graft/Stress*.scala "$main"/graft/MaintenanceLadder.scala \
  "$main"/graft/Bench.scala "$main"/graft/BenchOne.scala)" "harness"
for f in "$@"; do
  printf '%7d  %s\n' "$(count "$f")" "$f"
done
