#!/usr/bin/env bash
# Paired A/B of the end-to-end benchmark: a parent revision against the
# working tree of this checkout.
#
#   tools/ab.sh <parent-rev> <workload> <N> [first-seed]
#
# Extracts <parent-rev> into a temporary directory (`git archive`: the
# checkout's .git is left untouched), then for the N seeds first-seed..
# (default 1..N) runs
#   python3 perfbench/run.py --workload <workload> --seed <s> --seconds <run_seconds> --trace 0
# once in the parent and once here, alternating which side runs first
# (odd seeds: parent first); run_seconds is BENCHMARK.json's. For each
# end-to-end metric of BENCHMARK.json it prints both sides' median and
# quartiles, in how many pairs the change was better and a verdict
# (`gain`, `within bound` or `worse than bound`); then, to show
# where a change moved, each side's median per call kind: the library's
# `kind_median_s` entries, or each suite query's median from `query_ms`
# (both from the detail line a run prints before its result). Each side
# builds once, on its first run. The parent copy is removed on exit;
# each run's result line and detail line stay in the printed results
# directory (<side>.jsonl and <side>.detail.jsonl, one line per run).
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
trap 'rm -rf "$wt"' EXIT
mkdir -p "$wt"
git -C "$here" archive "$parent_sha" | tar -x -C "$wt"

run() { # side dir seed
  local side=$1 dir=$2 seed=$3 out
  echo "ab: seed $seed $side" >&2
  if ! out=$(cd "$dir" && python3 perfbench/run.py --workload "$workload" \
      --seed "$seed" --seconds "$seconds" --trace 0 2>>"$results/$side.stderr"); then
    echo "ab: $side run for seed $seed failed (see $results/$side.stderr)" >&2
    exit 1
  fi
  printf '%s\n' "$out" | tail -n 1 >>"$results/$side.jsonl"
  printf '%s\n' "$out" | tail -n 2 | head -n 1 >>"$results/$side.detail.jsonl"
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
def load(name):
    with open(os.path.join(results, name + ".jsonl")) as fh:
        return [json.loads(l) for l in fh if l.strip()]
par, chg = load("parent"), load("change")
detail = {side: [d["detail"] for d in load(side + ".detail")] for side in ("parent", "change")}

def quart(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else (xs[0],) * 3
    return med, q1, q3

print(f"workload {workload}: {len(par)} pairs, parent {parent[:12]} vs working tree")
# verdict: "gain" when the change wins >= 9 of 10 pairs and its median
# beats the parent's by more than the parent's interquartile range;
# "worse than bound" when its median is worse than the parent's by more
# than the metric's relative `bound`; "within bound" otherwise
def verdict(p, c, wins, lower, bound):
    pm, pq1, pq3 = quart(p)
    cm = quart(c)[0]
    gap = pm - cm if lower else cm - pm
    if wins * 10 >= 9 * len(p) and gap > pq3 - pq1:
        return "gain"
    if -gap > bound * abs(pm):
        return "worse than bound"
    return "within bound"

print(f"{'metric':<12} {'parent median [q1, q3]':>28} {'change median [q1, q3]':>28} {'wins':>6}  verdict")
for m in spec:
    name = m["name"]
    p = [r["metrics"][name]["value"] for r in par]
    c = [r["metrics"][name]["value"] for r in chg]
    lower = m["better"] == "lower"
    wins = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
    pm, pq1, pq3 = quart(p)
    cm, cq1, cq3 = quart(c)
    print(f"{name:<12} {pm:>10.4g} [{pq1:.4g}, {pq3:.4g}]".ljust(41) +
          f" {cm:>10.4g} [{cq1:.4g}, {cq3:.4g}]".ljust(29) + f" {wins:>3}/{len(p)}" +
          f"  {verdict(p, c, wins, lower, m['bound'])}")
# where the change moved: each side's median, over its runs, of each
# call kind's per-run median wall
def kinds(d):
    if "kind_median_s" in d:
        return {k: v * 1e3 for k, v in d["kind_median_s"].items()}
    return {q: v["quartiles"][1] for q, v in d.get("query_ms", {}).items()}
pk = [kinds(d) for d in detail["parent"]]
ck = [kinds(d) for d in detail["change"]]
names = sorted(set().union(*pk, *ck))
if names:
    print(f"{'call kind (ms)':<28} {'parent median':>14} {'change median':>14} {'wins':>6}")
    for n in names:
        pairs = [(a[n], b[n]) for a, b in zip(pk, ck) if n in a and n in b]
        if not pairs:
            continue
        wins = sum(1 for a, b in pairs if b < a)
        print(f"{n:<28} {statistics.median(a for a, _ in pairs):>14.1f} "
              f"{statistics.median(b for _, b in pairs):>14.1f} {wins:>3}/{len(pairs)}")
for side, rs in (("parent", par), ("change", chg)):
    failed = sum(r["failed"] for r in rs)
    correct = all(r["correct"] for r in rs)
    print(f"{side}: failed ops {failed}, all runs correct: {correct}")
print(f"results: {results}")
EOF
