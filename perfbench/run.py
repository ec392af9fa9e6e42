#!/usr/bin/env python3
"""Benchmark runner for the graft extraction engine.

    python3 perfbench/run.py --workload <extract_chat|checkpoint_resume|dedup_near>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles the engine's
sources together with the benchmark's (``perfbench/build.sbt``, offline
sbt); later runs reuse the classes while no source has changed. Each run
is one JVM with Spark in ``local[4]`` mode and prints the result JSON as
its last stdout line. Everything it writes stays inside the checkout:
build output under ``perfbench/target``, scratch data under
``.bench_work`` (removed at exit) and traces under ``.bench_out``.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "perfbench.stamp")
SPARK_JARS = "/opt/spark/jars"
WORKLOADS = ("extract_chat", "checkpoint_resume", "dedup_near")
# a run must end well inside 180 s; the first one also builds
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(work, args):
    # a fixed set of compiler threads: perfbench.Ctx.jitSeconds reads their CPU counters
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseDynamicNumberOfCompilerThreads",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main"] + args
            + ["--work", work, "--out", os.path.join(ROOT, ".bench_out")])


def build():
    want = stamp()
    if os.path.exists(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    if os.path.exists(STAMP):
        os.remove(STAMP)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                       + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    print("perfbench: building", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                           env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed", 3)
    with open(STAMP, "w") as fh:
        fh.write(want)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        fail("--workload is required")
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT} (expected build.sbt and src/main/scala/graft)")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS}")
    build()

    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(work, ["--workload", "selftest" if a.selftest else a.workload,
                          "--seed", str(a.seed), "--seconds", str(a.seconds),
                          "--trace", str(a.trace)])
    log_path = os.path.join(ROOT, ".bench_work", f"{os.getpid()}.log")
    timeout = 600 if a.selftest else RUN_TIMEOUT_S
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            out = b""
            print(f"perfbench: run exceeded {timeout} s", file=sys.stderr)
            p.returncode = 124
    shutil.rmtree(work, ignore_errors=True)
    text = out.decode(errors="replace")
    with open(log_path, "rb") as fh:
        err = fh.read().decode(errors="replace")
    os.remove(log_path)
    if p.returncode != 0:
        sys.stdout.write(text)
        sys.stderr.write(err[-6000:])
        sys.exit(p.returncode or 1)
    for line in err.splitlines():
        if line.startswith("[perfbench]") or line.startswith("[selftest]"):
            print(line, file=sys.stderr)
    sys.stdout.write(text)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
