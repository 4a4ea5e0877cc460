#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 martbench/run.py --workload mart_build --seed 1 --seconds 10 --trace 0

Workloads: mart_build, mart_queries, ext_sweep (see README.md).

Run from the root of a checkout. The first run builds the program and the
benchmark's own code from source with sbt (into martbench/target); later runs
reuse that build while the sources are unchanged. Each run starts one JVM
(local[N], N = the cores this process may use), which writes a raw record;
this script reduces it to the metrics. The last line of stdout is one JSON
object: correct, attempted, failed and metrics (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1). The exit code is 0 only when
every answer check passed. Every run also leaves its reduced record, with
the host context, under martbench/.work/results/ for compare.py.
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

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source-stamp.txt")

# Volume of each workload's world, as a multiple of the reference's
# 1,500 loans (see README.md for why these and not larger); ext_sweep
# reads the fixed testdata tier under TESTDATA instead.
SCALE = {"mart_build": 4, "mart_queries": 0.25, "ext_sweep": None}
TESTDATA = os.path.join(HERE, "testdata")
# The acceptance bound on a traced build's time outside its five steps.
MAX_BUILD_SELF_SHARE = 0.05
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JVM_FLAGS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
] + [
    # the program's own JVM settings (build.sbt javaOptions)
    "-XX:ReservedCodeCacheSize=768m", "-XX:-DontCompileHugeMethods",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]


class Failed(Exception):
    """A named reason the run cannot produce a result."""


def die(msg):
    print(f"martbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SOURCES, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout_s, log, **kw):
    """Runs cmd in its own process group with output to `log`; on timeout
    kills the whole group and waits for it. Returns the exit code."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout_s)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def last_line(log, marker=""):
    with open(log, errors="replace") as fh:
        lines = [l.strip() for l in fh if marker in l and l.strip()]
    return lines[-1] if lines else "(no output)"


def ensure_build():
    """Builds with sbt unless target/ holds a build of the current sources.
    Returns (whether it built, the runtime classpath)."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return False, open(CLASSPATH).read().strip()
    if not shutil.which("sbt"):
        raise Failed("sbt not found on PATH; it is needed to build the benchmark")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    try:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                           BUILD_TIMEOUT_S, log, cwd=HERE, env=env)
    except subprocess.TimeoutExpired:
        raise Failed(f"build exceeded {BUILD_TIMEOUT_S}s (log: {log})")
    if code != 0 or not os.path.exists(CLASSPATH):
        raise Failed(f"build failed: {last_line(log, 'error')} (log: {log})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return True, open(CLASSPATH).read().strip()


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise Failed("no java: set JAVA_HOME or put java on PATH")
    return exe


def run_jvm(args, classpath, deadline_s):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    raw_path = os.path.join(run_dir, "raw.json")
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cmd = [java(), f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"] + JVM_FLAGS + [
        "-cp", classpath, "martbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--testdata", TESTDATA,
        "--work", os.path.join(run_dir, "data"), "--out", raw_path]
    if SCALE[args.workload] is not None:
        cmd += ["--scale", str(SCALE[args.workload])]
    log = os.path.join(WORK, "jvm.log")
    try:
        try:
            code = run_bounded(cmd, deadline_s, log, cwd=ROOT, env=env)
        except subprocess.TimeoutExpired:
            raise Failed(f"run exceeded {deadline_s:.0f}s and was stopped (log: {log})")
        if code != 0 or not os.path.exists(raw_path):
            why = last_line(log, "martbench:")
            if why == "(no output)":
                why = last_line(log, "Exception")
            raise Failed(f"run failed with exit code {code}: {why} (log: {log})")
        with open(raw_path) as fh:
            return json.load(fh), cores
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    if not os.path.isdir(PROGRAM_SOURCES):
        die(f"program sources missing: {os.path.relpath(PROGRAM_SOURCES, ROOT)} not found "
            "(run from the root of a checkout)")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(os.path.join(os.environ["SPARK_HOME"], "jars")):
        die("SPARK_HOME is not set to a Spark installation with a jars/ directory")
    load_before = os.getloadavg()
    try:
        built, classpath = ensure_build()
        # a run that had to build first gets its whole run budget after the build
        budget = RUN_TIMEOUT_S if built else RUN_TIMEOUT_S - (time.time() - started)
        raw, cores = run_jvm(args, classpath, budget)
    except Failed as e:
        die(str(e))
    failed = len(raw["failures"])
    metrics = stats.per_layer(raw) if args.trace else stats.end_to_end(raw) if raw["latencies_ms"] else {}
    correct = failed == 0 and bool(raw["latencies_ms"])
    if args.trace and args.workload == "mart_build" and metrics["build.self_share"]["value"] > MAX_BUILD_SELF_SHARE:
        print(f"FAILED trace: build.self_share {metrics['build.self_share']['value']:.4f} "
              f"> {MAX_BUILD_SELF_SHARE}: the five steps leave part of the build unattributed")
        correct = False
    host = dict(raw["host"], nproc=cores, loadavg_before=load_before, loadavg_after=os.getloadavg())
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "started": started, "scale": SCALE[args.workload], "ops": len(raw["latencies_ms"]),
        "attempted": raw["attempted"],
        "latencies_ms": raw["latencies_ms"],
        # the tail is recorded, not a metric: it spread too widely between runs to bound
        "tail_ms": stats.percentile(raw["latencies_ms"], stats.TAIL_PERCENTILE) if raw["latencies_ms"] else None,
        "tail_samples_beyond": stats.beyond(raw["latencies_ms"], stats.TAIL_PERCENTILE) if raw["latencies_ms"] else 0,
        "peak_rss_mb": raw.get("peak_rss_mb"), "failures": raw["failures"], "host": host, "metrics": metrics,
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    name = time.strftime("%Y%m%dT%H%M%S", time.gmtime(started)) + f"-{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump(record, fh, indent=1)

    for f in raw["failures"]:
        print(f"FAILED {f['op']}: {f['error']}")
    print("host " + json.dumps(host))
    print(f"ops {record['ops']}, p{stats.TAIL_PERCENTILE} {record['tail_ms'] or 0:.1f} ms "
          f"with {record['tail_samples_beyond']} beyond it, "
          f"error_rate {stats.error_rate(raw['attempted'], failed):.4f}, peak RSS {raw.get('peak_rss_mb', 0):.0f} MB")
    for n, m in metrics.items():
        print(f"{n:40s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": raw["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
