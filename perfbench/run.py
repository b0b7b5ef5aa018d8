#!/usr/bin/env python3
"""Benchmark launcher for the graft CDC engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload bulk_cow --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the engine together with the benchmark driver (perfbench/build.sbt)
on first use, caches the resulting classpath under .bench_build/, then runs
the driver in one local[nproc] JVM.  Every table, changelog and Spark
scratch file lives under one temp root in .bench_build/tmp/ that is
deleted when the run ends; roots left by killed runs are swept at start.
The last line of stdout is the result JSON.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
TMP = os.path.join(BUILD, "tmp")
WORKLOADS = ("bulk_cow", "trickle_mor")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, dirs, names in os.walk(t):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the group and
    wait, so no JVM outlives the launcher."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        proc.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise
    return proc.returncode


def build():
    """Compile with sbt (offline) and return the runtime classpath."""
    digest = source_digest()
    cp_file = os.path.join(BUILD, f"classpath-{digest}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        rc = run_bounded(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=log,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log_path) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log_path}")
    cps = [ln for ln in lines
           if not ln.startswith("[") and os.pathsep in ln and ".jar" in ln]
    if not cps:
        fail(f"build printed no classpath; log in {log_path}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    return cps[-1]


def sweep_stale_roots():
    """Delete temp roots whose owning launcher is gone (killed runs)."""
    if not os.path.isdir(TMP):
        return
    for name in os.listdir(TMP):
        pid = name.split("-")[1] if name.startswith("run-") else ""
        alive = False
        if pid.isdigit():
            try:
                os.kill(int(pid), 0)
                alive = int(pid) != os.getpid()
            except OSError:
                alive = False
        if not alive:
            print(f"perfbench: sweeping stale temp root {name}",
                  file=sys.stderr)
            shutil.rmtree(os.path.join(TMP, name), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    # accepted so every benchmark command line has the same shape; each
    # workload measures a fixed number of cycles (perfbench/README.md)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check that the output oracle catches corruption")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to "
             "perfbench/; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    classpath = build()

    sweep_stale_roots()
    root = os.path.join(TMP, f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(os.path.join(root, "jvm"))
    cores = len(os.sched_getaffinity(0))
    java = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(root, 'jvm')}"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", classpath, "graftbench.Main", "--tmp", root,
             "--cores", str(cores), "--traces", os.path.join(BUILD, "traces")]
    if a.self_test:
        java += ["--self-test"]
    else:
        java += ["--workload", a.workload, "--seed", str(a.seed),
                 "--trace", str(a.trace)]
    try:
        rc = run_bounded(java, RUN_TIMEOUT_S, cwd=root,
                         stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S}s and was killed")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
