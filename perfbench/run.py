#!/usr/bin/env python3
"""graft's benchmark: builds graft and the benchmark from source, then runs
one workload in a fresh JVM and prints its result as the last stdout line.

    python3 perfbench/run.py --workload dml_refresh --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --selftest      # generator determinism test

Workloads, metrics and policies are described in perfbench/METRICS.md.
perfbench/build.py compiles the benchmark; build output, run scratch space and
per-run records live under .bench_build/ at the checkout root.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # importing build.py leaves no __pycache__
from build import BUILD, ENV, HERE, SPARK_JARS, build  # noqa: E402

RUN_LIMIT_S = 170
JVM_OPTS = [
    "-Xmx3g", "-Xss8m", "-Dfile.encoding=UTF-8",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [opt for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for opt in ("--add-opens", pkg + "=ALL-UNNAMED")]


def java(classes, main, args, work, deadline):
    """Run a JVM in its own process group; kill the group at the deadline.
    Returns (exit code, stdout text)."""
    p = subprocess.Popen(
        ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                               "-cp", classes + os.pathsep + SPARK_JARS, main]
        + args, stdout=subprocess.PIPE, env=ENV, start_new_session=True,
        text=True)
    try:
        out, _ = p.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return -1, ""
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    classes = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "runs", "%s-%d" % (a.workload or "selftest", os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.selftest:
            rc, out = java(classes, "graftbench.GenDeterminismTest", [work], work,
                           deadline)
            sys.stdout.write(out)
            sys.exit(rc)
        if a.workload is None or a.seed is None or a.seconds is None:
            ap.error("--workload, --seed and --seconds are required")
        rc, out = java(classes, "graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--dir", work], work, deadline)
        lines = out.rstrip("\n").split("\n")
        try:
            result = json.loads(lines[-1])
            ok = set(result) == {"correct", "attempted", "failed", "metrics"}
        except ValueError:
            ok = False
        if rc != 0 or not ok:
            sys.stderr.write(out)
            sys.exit("perfbench: run failed (exit %d)" % rc)
        results = os.path.join(BUILD, "results")
        os.makedirs(results, exist_ok=True)
        shutil.copy(os.path.join(work, "record.json"), os.path.join(
            results, "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)))
        sys.stdout.write(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
