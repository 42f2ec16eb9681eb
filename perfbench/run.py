#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source (see build.py), then
runs one workload in a fresh JVM at `local[nproc]`. The last line of
standard output is the result object; see BENCHMARK.md for the
workloads and metrics. All scratch files live under `.bench_build/` at
the repository root and the run's own work directory is removed when
the JVM exits.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("bulk_skewed", "daily_uniform")
DATA = os.path.join(build.BENCH_DIR, "data")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(build.BUILD_DIR, "work", f"{name}-{os.getpid()}")
    if a.selftest:
        args = ["perfbench.SelfTest", "--work", work, "--data", DATA]
    else:
        args = ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--data", DATA,
                "--cache", build.GEN_CACHE]
        if a.trace:
            args += ["--trace-out", os.path.join(build.BUILD_DIR, "traces", name + ".json")]
    return run_jvm(classes, jars, work, args)


def run_jvm(classes, jars, work, args):
    """Run one benchmark JVM in a fresh work dir (removed afterwards)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed heap keeps the resident set comparable between runs
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*")] + args
    # the engine's session helper places Spark's local dir under this base
    # and no other engine dev knob leaks in from the caller's environment
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_WORK_DIR"] = work
    # a terminated launcher takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, env=env, cwd=work)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
