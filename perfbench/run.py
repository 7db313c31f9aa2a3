#!/usr/bin/env python3
"""Benchmark entry point for graft.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload suite|library --seed N \
        --seconds S --trace 0|1

Builds the library and the benchmark from source when the sources
changed since the last build (sbt, through perfbench/build.sbt), then
runs one workload in a fresh JVM with Spark at local[nproc] (before the
first suite run of a build, another JVM writes the suite's tables). The JVM
prints a detail line and, as its last stdout line, the result object
{"correct", "attempted", "failed", "metrics"}; this script checks that
object and prints it as its own last line. Spark's logs go to
perfbench/work/<workload>.log. Every file the run writes lives under
perfbench/work/ and the build directories of the checkout.

Exit status is 0 only when the run completed and printed a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.stamp")
WORKLOADS = ("suite", "library")
BUILD_TIMEOUT_S = 560  # with the tables and a run after it, within 900 s
TABLES_TIMEOUT_S = 150
RUN_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 1800  # --record hashes all 129 queries


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose content decides what the build produces."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, subdirs, files in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    return out


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Xmx2g", "-Dsbt.offline=true"]
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, cwd, timeout, env=None, stdout=None, stderr=None):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives this script."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build():
    want = stamp()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        try:
            code, _ = run_group(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "writeLaunch"],
                HERE, BUILD_TIMEOUT_S, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log})", 1)
    if code != 0 or not os.path.isfile(LAUNCH):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (log: {log})", 1)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


def check_result(line, trace):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    if not isinstance(res["failed"], int) or res["failed"] < 0:
        raise ValueError("failed must be a whole number >= 0")
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    missing = [n for n in names if n not in res["metrics"]]
    if missing:
        raise ValueError(f"missing metrics {missing}")
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite expected/suite.tsv from this build's outputs (all queries)")
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found beside perfbench/: nothing to build")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    build()

    with open(LAUNCH) as fh:
        lines = [l.rstrip("\n") for l in fh if l.strip()]
    classpath, jvm_opts = lines[0], lines[1:]
    # the suite's generated tables, kept across runs of one build
    os.makedirs(WORK, exist_ok=True)
    with open(STAMP) as fh:
        data_dir = os.path.join(WORK, "suite-data-" + fh.read().strip()[:16])
    for d in os.listdir(WORK):
        if d.startswith("suite-data-") and os.path.join(WORK, d) != data_dir:
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cores = os.cpu_count() or 1
    # CompileThresholdScaling=0.1: the JIT compiles hot methods after a
    # tenth of the usual invocations. Spark's planner is a large body of
    # code; at the default thresholds a one-minute run is still warming
    # up (a second timed pass ran about 35 % faster than the first), and
    # the timed passes would measure the warm-up curve, not the program.
    def jvm(workload):
        return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.1",
                 f"-Djava.io.tmpdir={tmp}"] + jvm_opts +
                ["-cp", classpath, "graftbench.Main",
                 "--workload", workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--work", run_dir, "--data", data_dir, "--cores", str(cores),
                 "--expected", os.path.join(HERE, "expected"),
                 "--record", "1" if args.record else "0"])

    # The suite's tables are written by a JVM of their own, once per
    # build: a run that started by generating them would time its warm
    # pass in a JVM the generator had already warmed up.
    if args.workload == "suite" and not os.path.isfile(os.path.join(data_dir, "_complete")):
        log = os.path.join(WORK, "tables.log")
        with open(log, "w") as err:
            try:
                code, _ = run_group(jvm("tables"), ROOT, TABLES_TIMEOUT_S,
                                    stdout=err, stderr=subprocess.STDOUT)
            except subprocess.TimeoutExpired:
                fail(f"writing the suite's tables timed out after {TABLES_TIMEOUT_S} s (log: {log})", 1)
        if code != 0:
            fail(f"writing the suite's tables failed (log: {log})", 1)
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(tmp)

    cmd = jvm(args.workload)
    log = os.path.join(WORK, f"{args.workload}.log")
    t0 = time.time()
    timeout = RECORD_TIMEOUT_S if args.record else RUN_TIMEOUT_S
    with open(log, "w") as err:
        try:
            code, out = run_group(cmd, ROOT, timeout, stdout=subprocess.PIPE, stderr=err)
        except subprocess.TimeoutExpired:
            fail(f"run timed out after {timeout} s (log: {log})", 1)
    out = out.decode("utf-8", "replace").splitlines()
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not out:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"workload {args.workload} exited with {code} (log: {log})", 1)
    try:
        res = check_result(out[-1], args.trace)
    except (ValueError, KeyError) as e:
        fail(f"bad result line ({e}): {out[-1][:500]}", 1)
    for l in out[:-1]:
        print(l)
    print(f"perfbench: {args.workload} seed={args.seed} wall={time.time() - t0:.1f}s "
          f"cores={cores}", file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
