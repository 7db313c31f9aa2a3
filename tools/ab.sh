#!/usr/bin/env bash
# Paired A/B of the end-to-end benchmark: a parent revision against the
# working tree of this checkout.
#
#   tools/ab.sh <parent-rev> <workload> <N> [first-seed]
#
# Checks <parent-rev> out into a temporary git worktree, then for the N
# seeds first-seed.. (default 1..N) runs
#   python3 perfbench/run.py --workload <workload> --seed <s> --seconds <run_seconds> --trace 0
# once in the parent and once here, alternating which side runs first
# (odd seeds: parent first); run_seconds is BENCHMARK.json's. For each
# end-to-end metric of BENCHMARK.json it prints both sides' median and
# quartiles and in how many pairs the change was better. Each side
# builds once, on its first run. The worktree is removed on exit; the
# raw result lines stay in the printed results directory.
set -euo pipefail

if [ $# -lt 3 ] || [ $# -gt 4 ]; then
  echo "usage: $0 <parent-rev> <workload> <N> [first-seed]" >&2
  exit 2
fi
parent_rev=$1 workload=$2 n=$3 first=${4:-1}
here=$(git rev-parse --show-toplevel)
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$here/BENCHMARK.json")
parent_sha=$(git -C "$here" rev-parse --verify "$parent_rev^{commit}")

work=$(mktemp -d "${TMPDIR:-/tmp}/graft-ab.XXXXXX")
wt="$work/parent"
results="$work/results"
mkdir -p "$results"
cleanup() {
  git -C "$here" worktree remove --force "$wt" 2>/dev/null || rm -rf "$wt"
  git -C "$here" worktree prune
}
trap cleanup EXIT
git -C "$here" worktree add --detach --quiet "$wt" "$parent_sha"

run() { # side dir seed
  local side=$1 dir=$2 seed=$3 out
  echo "ab: seed $seed $side" >&2
  if ! out=$(cd "$dir" && python3 perfbench/run.py --workload "$workload" \
      --seed "$seed" --seconds "$seconds" --trace 0 2>>"$results/$side.stderr"); then
    echo "ab: $side run for seed $seed failed (see $results/$side.stderr)" >&2
    exit 1
  fi
  printf '%s\n' "$out" | tail -n 1 >>"$results/$side.jsonl"
}

for seed in $(seq "$first" $((first + n - 1))); do
  if [ $((seed % 2)) -eq 1 ]; then
    run parent "$wt" "$seed"; run change "$here" "$seed"
  else
    run change "$here" "$seed"; run parent "$wt" "$seed"
  fi
done

python3 - "$here/BENCHMARK.json" "$results" "$parent_sha" "$workload" <<'EOF'
import json, os, statistics, sys

bench, results, parent, workload = sys.argv[1:]
spec = json.load(open(bench))["end_to_end"]
def load(side):
    with open(os.path.join(results, side + ".jsonl")) as fh:
        return [json.loads(l) for l in fh if l.strip()]
par, chg = load("parent"), load("change")

def quart(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else (xs[0],) * 3
    return med, q1, q3

print(f"workload {workload}: {len(par)} pairs, parent {parent[:12]} vs working tree")
print(f"{'metric':<12} {'parent median [q1, q3]':>28} {'change median [q1, q3]':>28} {'wins':>6}")
for m in spec:
    name = m["name"]
    p = [r["metrics"][name]["value"] for r in par]
    c = [r["metrics"][name]["value"] for r in chg]
    lower = m["better"] == "lower"
    wins = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
    pm, pq1, pq3 = quart(p)
    cm, cq1, cq3 = quart(c)
    print(f"{name:<12} {pm:>10.4g} [{pq1:.4g}, {pq3:.4g}]".ljust(41) +
          f" {cm:>10.4g} [{cq1:.4g}, {cq3:.4g}]".ljust(29) + f" {wins:>3}/{len(p)}")
for side, rs in (("parent", par), ("change", chg)):
    failed = sum(r["failed"] for r in rs)
    correct = all(r["correct"] for r in rs)
    print(f"{side}: failed ops {failed}, all runs correct: {correct}")
print(f"results: {results}")
EOF
