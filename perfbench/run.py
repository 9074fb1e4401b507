#!/usr/bin/env python3
"""Run one benchmark workload from the repository root.

    python3 perfbench/run.py --workload nrt_refresh --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload in turn
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source when needed (see
build.py), then runs the workload in one JVM. The last line of stdout
is the JSON result; the exit code is non-zero on any failure.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("nrt_refresh", "publish")
TIMEOUT_S = 175

# Spark on JDK 17 outside spark-submit needs these (the launcher's
# default module options).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(root, classpath, build_dir, name, args):
    """Run perfbench.Main in its own JVM and work directory; return its exit code."""
    work = os.path.join(build_dir, "work", "%s-%d" % (name, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # no hsperfdata files: a run writes only inside the checkout
    cmd = [build.java(), "-XX:-UsePerfData", "-Xms2g", "-Xmx2g"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
            "-cp", classpath, "perfbench.Main"] + args
    if args[0] != "--selftest":
        cmd += ["--work", work, "--trace-out", os.path.join(build_dir, "trace", name + ".json")]
    proc = subprocess.Popen(cmd, cwd=root)
    try:
        return proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded %d s, stopped" % TIMEOUT_S, file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def main():
    # a stop request unwinds through run_jvm, which stops the JVM first
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and a.workload is None:
        p.error("--workload is required")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        print("perfbench: no program sources under src/main/scala; run from the repository root",
              file=sys.stderr)
        return 2
    build_dir = os.path.join(root, ".bench_build")
    classpath = build.ensure_built(root, build_dir)

    if a.selftest:
        return run_jvm(root, classpath, build_dir, "selftest", ["--selftest"])
    codes = [run_jvm(root, classpath, build_dir, "%s-seed%d" % (w, a.seed),
                     ["--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds),
                      "--trace", str(a.trace)])
             for w in (WORKLOADS if a.workload == "all" else (a.workload,))]
    return max(codes)


if __name__ == "__main__":
    sys.exit(main())
