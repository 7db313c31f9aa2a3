#!/usr/bin/env bash
# One benchmark run under a JFR recording, summarised per span.
#
#   tools/profile.sh <workload> <seed>
#
# Brings the benchmark build up to date first (perfbench/run.py's own
# stamp check, with no recording, so sbt's JVM is never recorded), then
# runs
#   python3 perfbench/run.py --workload <workload> --seed <seed> --seconds <run_seconds> --trace 0
# with JAVA_TOOL_OPTIONS starting a flight recording (the `profile`
# settings: 10 ms execution samples, process starts with stacks) in
# every JVM the run launches; run_seconds is BENCHMARK.json's. It then
# prints, for each span name of perfbench/work/spans-<workload>.jsonl,
# in order of total wall time:
#   - how many spans and how much wall time it has;
#   - the process starts inside its windows, grouped by command and by
#     the first non-JDK frame that started them;
#   - the top frames of the main thread's execution samples inside its
#     windows.
# Then the process starts outside every span. The recordings stay in
# the printed directory (one `.jfr` per JVM).
set -euo pipefail

if [ $# -ne 2 ]; then
  echo "usage: $0 <workload> <seed>" >&2
  exit 2
fi
workload=$1 seed=$2
here=$(cd "$(dirname "$0")/.." && pwd)
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$here/BENCHMARK.json")
rec=$(mktemp -d "${TMPDIR:-/tmp}/graft-profile.XXXXXX")

# the build, unrecorded
(cd "$here/perfbench" && python3 -c 'import run; run.build()')

echo "profile: $workload seed $seed, recordings in $rec" >&2
(cd "$here" && JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=settings=profile,filename=$rec/" \
  python3 perfbench/run.py --workload "$workload" --seed "$seed" --seconds "$seconds" \
  --trace 0 | tail -n 1)

# samples keep their top frame only; process starts keep enough stack
# to reach the first caller outside the JDK
for f in "$rec"/*.jfr; do
  jfr print --json --stack-depth 1 --events jdk.ExecutionSample "$f" >"${f%.jfr}.samples.json"
  jfr print --json --stack-depth 64 --events jdk.ProcessStart "$f" >"${f%.jfr}.starts.json"
done

python3 - "$here/perfbench/work/spans-$workload.jsonl" "$rec" <<'EOF'
import collections, datetime, glob, json, os, sys

spans_path, rec = sys.argv[1], sys.argv[2]
spans = [json.loads(l) for l in open(spans_path) if l.strip()]
windows = collections.defaultdict(list)
for s in spans:
    windows[s["name"]].append((s["start_ms"], s["end_ms"], s["wall_s"]))

def epoch_ms(t):
    # "2026-10-19T20:55:22.123456789Z" or with an offset; sub-ms digits dropped
    t = t.replace("Z", "+00:00")
    head, _, tail = t.partition(".")
    frac, zone = tail[:3], tail[tail.find("+") if "+" in tail else tail.find("-"):]
    dt = datetime.datetime.fromisoformat(f"{head}.{frac.ljust(3, '0')}{zone}")
    return dt.timestamp() * 1000.0

def frame_name(f):
    m = f.get("method", {})
    return f"{m.get('type', {}).get('name', '?')}.{m.get('name', '?')}".replace("/", ".")

JDK = ("java.", "javax.", "jdk.", "sun.", "com.sun.")
starts, samples = [], []
for path in sorted(glob.glob(os.path.join(rec, "*.json"))):
    for e in json.load(open(path))["recording"]["events"]:
        v = e["values"]
        frames = [frame_name(f) for f in (v.get("stackTrace") or {}).get("frames", [])]
        t = epoch_ms(v["startTime"])
        if e["type"] == "jdk.ProcessStart":
            caller = next((f for f in frames if not f.startswith(JDK)), "?")
            starts.append((t, os.path.basename(v.get("command", "?").split(" ")[0]), caller))
        elif (v.get("sampledThread") or {}).get("javaName") == "main" and frames:
            samples.append((t, frames[0]))

def inside(t, ws):
    return any(a <= t <= b for a, b, _ in ws)

print(f"{len(spans)} spans, {len(starts)} process starts, {len(samples)} main-thread samples")
seen = set()
for name, ws in sorted(windows.items(), key=lambda kv: -sum(w for _, _, w in kv[1])):
    mine = [s for s in starts if inside(s[0], ws)]
    seen.update(mine)
    top = collections.Counter(f for t, f in samples if inside(t, ws))
    print(f"\n{name}: {len(ws)} spans, {sum(w for _, _, w in ws):.3f} s wall, "
          f"{len(mine)} process starts, {sum(top.values())} main-thread samples")
    for (cmd, caller), n in collections.Counter((c, f) for _, c, f in mine).most_common(5):
        print(f"  start {n:6d}  {cmd}  from {caller}")
    for f, n in top.most_common(8):
        print(f"  frame {n:6d}  {f}")
rest = collections.Counter((s[1], s[2]) for s in starts if s not in seen)
print(f"\noutside every span: {sum(rest.values())} process starts")
for (cmd, caller), n in rest.most_common(5):
    print(f"  start {n:6d}  {cmd}  from {caller}")
EOF
