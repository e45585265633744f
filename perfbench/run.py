#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload gtfs_feed --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark driver from source (sbt, once per
checkout), then runs one workload in a fresh JVM on local[<cores>] and
passes its output through. The last stdout line is one JSON object with
keys correct/attempted/failed/metrics. Other modes:

    python3 perfbench/run.py --steadiness 5 --workload queries --seconds 10
        repeats the workload with seeds 1..5 and prints, per metric, the
        median, quartiles and the quartile spread as a share of its bound
    python3 perfbench/run.py --record --dataset base [--queries q1,q2]
        prints expected.tsv lines for the named queries (all when omitted)
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

BENCH = "perfbench"
WORK = os.path.join(BENCH, "work")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600  # leaves a first run room inside its 900 s

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_checkout():
    needed = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
              os.path.join(BENCH, "build.sbt"), "BENCHMARK.json"]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        fail("not the root of a repository checkout (missing: %s)" % ", ".join(missing))


def newest_source_mtime():
    newest = 0.0
    for top in ("src/main", os.path.join(BENCH, "src"), "build.sbt", "project",
                os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
            continue
        for root, dirs, files in os.walk(top):
            dirs[:] = [d for d in dirs if d not in ("target", "project")]
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(root, f)))
    return newest


def build():
    """Compiles with sbt when any source is newer than the exported classpath;
    returns whether it did."""
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return False
    print("perfbench: building with sbt", file=sys.stderr)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")  # every dependency is in the local cache
    try:
        proc = subprocess.Popen(
            ["sbt", "-batch", "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            stdin=subprocess.DEVNULL, env=env, start_new_session=True)
    except FileNotFoundError:
        fail("sbt not found on PATH")
    try:
        output, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)  # the launcher script and its JVM
        proc.wait()
        fail("build timed out")
    lines = output.strip().splitlines()
    if proc.returncode != 0 or not lines or "[error]" in output:
        sys.stderr.write(output[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return True


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_command(extra):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # scratch of the previous run (Spark block managers, extracted feed
    # members) is not needed any more
    tmp = os.path.abspath(os.path.join(WORK, "tmp"))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xms4g", "-Xmx4g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.abspath(os.path.join(WORK, 'spark-warehouse'))}",
        f"-Dderby.system.home={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--cores", str(cores()), "--work", os.path.abspath(WORK),
        "--bench-dir", os.path.abspath(BENCH)] + extra)


def run_jvm(extra, echo=True, timeout=RUN_TIMEOUT_S):
    """Runs the benchmark JVM in its own process group; returns (code, stdout lines)."""
    proc = subprocess.Popen(jvm_command(extra), stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    lines = []
    # a hung JVM is killed with its whole process group
    watchdog = threading.Timer(timeout, lambda: os.killpg(proc.pid, signal.SIGKILL))
    watchdog.start()
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if echo:
                print(lines[-1], flush=True)
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    return code, lines


def result_of(lines):
    for line in reversed(lines):
        if line.startswith("{"):
            try:
                r = json.loads(line)
            except ValueError:
                return None
            keys = {"correct", "attempted", "failed", "metrics"}
            return r if set(r) == keys else None
    return None


def steadiness(args):
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    for seed in range(1, args.steadiness + 1):
        code, lines = run_jvm(["--workload", args.workload, "--seed", str(seed),
                               "--seconds", str(args.seconds), "--trace", "0"], echo=False)
        r = result_of(lines)
        if code != 0 or r is None or not r["correct"]:
            fail(f"seed {seed}: run failed or incorrect")
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4f}" for k, v in r["metrics"].items()),
              flush=True)
    print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}{'share':>7}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else float("inf")
        b = bounds.get(k)
        share = spread / b if b else float("nan")
        print(f"{k:<16}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.3f}{b or 0:>7.2f}{share:>7.2f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", type=int, default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--dataset", default="base")
    ap.add_argument("--queries")
    args = ap.parse_args()
    check_checkout()
    if build():
        # the cached query datasets are generated here, in the first run of a
        # checkout with its longer time allowance, not in a later timed run
        code, _ = run_jvm(["--workload", "prepare"])
        if code != 0:
            fail("input generation failed")
    if args.record:
        extra = ["--workload", "record", "--dataset", args.dataset]
        if args.queries:
            extra += ["--queries", args.queries]
        code, _ = run_jvm(extra, timeout=3600)
        sys.exit(0 if code == 0 else 1)
    if not args.workload:
        fail("--workload is required")
    if args.steadiness:
        steadiness(args)
        return
    code, lines = run_jvm(["--workload", args.workload, "--seed", str(args.seed),
                           "--seconds", str(args.seconds), "--trace", str(args.trace)])
    if code != 0 or result_of(lines) is None:
        fail(f"benchmark JVM exited with code {code} without a result")


if __name__ == "__main__":
    main()
