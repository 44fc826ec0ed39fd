#!/usr/bin/env python3
"""Build the engine and the benchmark from this checkout, then run one
workload in a fresh JVM and pass its output through.

    python3 cdcbench/run.py --workload dedup_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The build (sbt, into the checkout's
`target/` directories) is skipped when its sources have not changed since
the last build; it is not part of `setup_s`. Each run works in its own
directory under `.bench_work/`, which it removes on exit; traced runs
leave their spans and per-layer JSON, and every run its JVM log, under
`.bench_out/`. The last line of stdout is the result object.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.monotonic()
BENCH = "cdcbench"
WORKLOADS = ("dedup_ingest", "feed_consumers")
# the JVM gets a fixed heap that leaves most of a 16 GB host to others
HEAP = "4g"
# wall-clock limits from the start of this script: a run that builds
# first gets the longer one
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties"]
    for top in ("src/main", f"{BENCH}/src"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.relpath(os.path.join(d, n), root) for n in names]
    for rel in sorted(files):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout, stderr, env=None):
    """Run `cmd` in its own process group; kill the whole group on
    timeout or interrupt, and wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(root, log):
    stamp = source_stamp(root)
    target = os.path.join(root, BENCH, "target")
    stamp_file = os.path.join(target, "build-stamp")
    cp_file = os.path.join(target, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp_file, False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    with open(log, "w") as out:
        try:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "writeClasspath"],
                           os.path.join(root, BENCH), BUILD_LIMIT_S, out,
                           subprocess.STDOUT, env)
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (exit {rc}); log in {log}", 3)
    os.makedirs(target, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp_file, True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", f"{BENCH}/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    cp_file, built = build(root, os.path.join(out_dir, "build.log"))
    limit = BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S
    with open(cp_file) as f:
        cp = os.pathsep.join(line.strip() for line in f if line.strip())

    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # C1 only, at ten times its default call and loop thresholds: every
    # micro-batch brings freshly generated classes, and compiling them
    # (with C2, or at the default thresholds) shows up as CPU spread
    # between runs. No perf-data file: the JVM writes nothing outside
    # the checkout.
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
           "-XX:Tier3InvocationThreshold=2000", "-XX:Tier3MinInvocationThreshold=1000",
           "-XX:Tier3CompileThreshold=20000", "-XX:Tier3BackEdgeThreshold=600000",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "cdcbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out_dir]
    log = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    stdout_file = os.path.join(work, "stdout.txt")
    rc = -1
    try:
        with open(stdout_file, "w") as so, open(log, "w") as se:
            rc = run_group(cmd, root, limit - (time.monotonic() - START), so, se)
    except subprocess.TimeoutExpired:
        print("cdcbench: run timed out", file=sys.stderr)
    finally:
        lines = open(stdout_file).read().splitlines() if os.path.exists(stdout_file) else []
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"run failed (exit {rc}); JVM log in {log}", 1)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
