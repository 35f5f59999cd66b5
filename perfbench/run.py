#!/usr/bin/env python3
"""graft benchmark: times full query results on the sf0.1 fixtures.

Usage (from the repository root):
  python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Builds the library and the harness with sbt on first use (the classpath is
cached under perfbench/target, keyed by a hash of the sources), launches
the harness JVM with a private temp dir, checks every result, and prints
one short line per metric, then one JSON object as the last line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from a traced window, plus the tracing overhead. The
per-query layer map and the spans go to perfbench/out/.
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

PB = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PB)
sys.path.insert(0, PB)

import stats  # noqa: E402
from report import report  # noqa: E402

FIXTURES = os.path.join(PB, "fixtures", "sf0.1")
BUILD_DIR = os.path.join(PB, "target")
OUT_DIR = os.path.join(PB, "out")
CPUS = 4
HEAP = "3g"
JVM_DEADLINE_S = 150
SETUPS = 3

# Light, oracle-gated queries, a few of each family: per-query fixed cost
# (table loads, planning, codegen, job launch, the final sort) dominates.
INTERACTIVE = """
q3_top_revenue agg_stats join_asof win_ranks scalar_strings pii_hash set_except
""".split()

# Writes beside reads: a stateful micro-batch stream, a lake write, lake
# maintenance and sinks.
PIPELINE = """
ev_stream_tumbling layout_check_constraints layout_compaction sink_partitioned
pipeline_prep
""".split()

WORKLOADS = {"interactive": INTERACTIVE, "pipeline_writes": PIPELINE}
# Timed passes: at least this many, and an odd count, so that each query's
# median latency is one of its executions.
MIN_PASSES = 3

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(PB, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(PB, "build.sbt"), os.path.join(PB, "project", "build.properties")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class Child:
    """One child process at a time (sbt, then the harness JVM), with its
    process group; killed and reaped on any exit path."""

    def __init__(self):
        self.proc = None

    def run(self, argv, log_path, deadline_s, cwd=ROOT, env=None):
        """The exit code, or None when the deadline passed."""
        with open(log_path, "w") as out:
            self.proc = subprocess.Popen(argv, stdout=out, stderr=subprocess.STDOUT,
                                         cwd=cwd, env=env, start_new_session=True)
            try:
                return self.proc.wait(timeout=deadline_s)
            except subprocess.TimeoutExpired:
                self.stop()
                return None

    def stop(self):
        if self.proc is not None and self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            self.proc.wait()


def build(child):
    """The harness classpath, building with sbt when the sources changed."""
    stamp = source_stamp()
    cache = os.path.join(BUILD_DIR, "classpath.txt")
    if os.path.exists(cache):
        with open(cache) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return stamp, lines[1]
    os.makedirs(BUILD_DIR, exist_ok=True)
    log("building with sbt (first run in this checkout)")
    build_log = os.path.join(BUILD_DIR, "build.log")
    rc = child.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        build_log, 840, cwd=PB,
        env={**os.environ, "COURSIER_MODE": os.environ.get("COURSIER_MODE", "offline")})
    with open(build_log, errors="replace") as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    # `export` prints the classpath as the last line, after sbt's own log.
    if rc != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed; see {build_log}")
    with open(cache, "w") as f:
        f.write(f"{stamp}\n{lines[-1]}\n")
    return stamp, lines[-1]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat, or None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor took from this machine in between."""
    if not before or not after or len(before) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return round(delta[7] / max(sum(delta), 1), 4)


def jvm_argv(classpath, run_dir, config):
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    flags += [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={run_dir}"]
    return ["java"] + flags + ["-cp", classpath, "perfbench.Harness", config]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in (os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join(FIXTURES, "lineitem.parquet")):
        if not os.path.exists(need):
            fail(f"not a graft checkout: missing {os.path.relpath(need, ROOT)}")

    roster = WORKLOADS[args.workload]
    run_dir = os.path.join(BUILD_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    child = Child()

    def on_signal(signum, _frame):
        child.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        stamp, classpath = build(child)
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        config = dict(
            fixtures=FIXTURES, run_dir=run_dir, out=os.path.join(run_dir, "result.json"),
            cpus=CPUS, seconds=args.seconds, trace=bool(args.trace), setups=SETUPS,
            min_passes=MIN_PASSES, roster=roster, orders=stats.orders(args.seed, len(roster), 64))
        cfg_path = os.path.join(run_dir, "config.json")
        config["launch_ms"] = time.time() * 1e3
        with open(cfg_path, "w") as f:
            json.dump(config, f)
        cpu0 = cpu_times()
        rc = child.run(jvm_argv(classpath, run_dir, cfg_path), os.path.join(run_dir, "jvm.log"),
                       JVM_DEADLINE_S)
        if rc != 0:
            with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            fail("harness timed out" if rc is None else f"harness exited with {rc}")
        with open(config["out"]) as f:
            result = json.load(f)
        result["env"]["steal_share"] = steal_share(cpu0, cpu_times())
        report(args, stamp, result, roster, CPUS, FIXTURES, BUILD_DIR, OUT_DIR)
    finally:
        child.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
