#!/usr/bin/env python3
"""Benchmark of the scorespark library: one seeded workload per run.

    python3 perfbench/run.py --workload nested_read --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from the sources of this checkout
(sbt, into perfbench/target), makes the workload's inputs from the seed,
and in a fresh JVM sets up, runs the timed passes and checks each
query's output; then prints the metrics. The last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
WORKLOADS = ("nested_read", "nested_write", "battery")
NESTED_ROWS = 10000   # rows of the generated nested table
NESTED_SEEDS_KEPT = 12
# A fixed heap and young generation keep the JVM's peak RSS from
# following the collector's timing-driven resizing; no perf-data file is
# written outside the checkout.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:-UsePerfData"]
RUN_LIMIT_S = 170     # a run (after the build) ends within this many seconds
BUILD_LIMIT_S = 700    # with RUN_LIMIT_S, a first run (which builds) ends within 900 s


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_process(cmd, log_path, deadline, cwd=ROOT):
    """Runs cmd to completion with its output in log_path; kills its whole
    process group if it is still running at the deadline."""
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def sources():
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(HERE, "build.sbt")
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    yield os.path.join(d, f)


def build(logs):
    """Compiles the library and the benchmark unless the last build is newer
    than every source; returns the launch spec (classpath, JVM options)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    if not (os.path.exists(launch)
            and all(os.path.getmtime(s) < os.path.getmtime(launch) for s in sources())):
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"]
        try:
            code = run_process(cmd, os.path.join(logs, "build.log"),
                               time.monotonic() + BUILD_LIMIT_S, cwd=HERE)
        except subprocess.TimeoutExpired:
            fail("the build timed out")
        if code != 0 or not os.path.exists(launch):
            fail(f"the build failed; see {os.path.join(logs, 'build.log')}")
    with open(launch) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    return lines[0], lines[1:]


def java(launch, work, args):
    classpath, opts = launch
    java_bin = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java_bin, *JVM_FLAGS, f"-Djava.io.tmpdir={work}/tmp",
            *opts, "-cp", classpath, "graft.perfbench.Main", *args]


def cpu_jiffies():
    """The machine's CPU time counters from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def sf_dir():
    """The sf0.1 test tables: SPARK_GRAFT_SF_DIR, else the sf 0.1 row of the
    repository's TESTDATA.md."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"].rstrip("/")
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    except OSError:
        m = None
    return m.group(1).rstrip("/") if m else None


def main():
    # a terminated run still stops the JVM it started (see run_process)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the library sources (build.sbt, src/main/scala/graft) are not in this checkout")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.workload == "battery":
        sf = sf_dir()
        canon = os.path.join(ROOT, "tools", f"expected_canon_{os.path.basename(sf or '')}.txt")
        if not sf or not os.path.isdir(sf):
            fail("the sf0.1 test tables are missing (set SPARK_GRAFT_SF_DIR)")
        if not os.path.isfile(canon):
            fail(f"the canon fingerprints {canon} are missing")
        args += ["--sf", sf, "--canon", canon]
    else:
        args += ["--data", os.path.join(WORK, "data", f"nested-{a.seed}-{NESTED_ROWS}")]

    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    launch = build(logs)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    log = os.path.join(logs, f"{a.workload}-{a.seed}-{a.trace}.log")
    if os.path.exists(log):
        os.remove(log)
    deadline = time.monotonic() + RUN_LIMIT_S

    def jvm(*jvm_args):
        try:
            code = run_process(java(launch, run_dir, [*jvm_args, "--work", run_dir]), log, deadline)
        except subprocess.TimeoutExpired:
            fail(f"the run did not finish in {RUN_LIMIT_S} s; see {log}")
        if code != 0:
            fail(f"the benchmark JVM exited with {code}; see {log}")

    if a.workload != "battery":
        # the seeded table, written once per seed by a JVM of its own, so
        # that every measured JVM starts cold
        data = args[-1]
        if not os.path.exists(os.path.join(data, "_SUCCESS")):
            kept = sorted(glob.glob(os.path.join(WORK, "data", "nested-*")), key=os.path.getmtime)
            for old in kept[:max(0, len(kept) + 1 - NESTED_SEEDS_KEPT)]:
                shutil.rmtree(old, ignore_errors=True)
            shutil.rmtree(data, ignore_errors=True)
            jvm("gen", "--seed", str(a.seed), "--rows", str(NESTED_ROWS), "--data", data)
    before = cpu_jiffies()
    jvm("run", *args)
    after = cpu_jiffies()
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    metrics = result["metrics"]
    record = result["record"]
    if before and after and len(before) > 7:
        # the share of the machine's CPU time that its host gave to others
        # during the run: a busy host slows every metric that is a time
        spent = [b - a for a, b in zip(before, after)]
        record["cpu_steal_share"] = round(spent[7] / max(1, sum(spent[:8])), 4)
    if a.trace:
        trace = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.jsonl")
        shutil.copyfile(os.path.join(run_dir, "trace.jsonl"), trace)
        record["trace_file"] = os.path.relpath(trace, ROOT)

    print(f"# perfbench {a.workload} seed={a.seed} trace={a.trace} cores={os.cpu_count()}")
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    print("record " + json.dumps(record, sort_keys=True))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
