#!/usr/bin/env python3
"""Run one workload of the phoenixspark benchmark.

    python3 perfbench/run.py --workload ingest_refresh|curation \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run compiles the engine
and the benchmark with sbt (the benchmark's own build in this directory
depends on the engine's build); later runs reuse the compiled classes
while the sources are unchanged. Each run is one JVM with Spark local[n],
n = the CPUs this process may use, and a fresh working directory under
perfbench/target that is deleted when the run ends.

stdout carries `info ...` and `metric <name> <value> <unit> ...` lines,
then, as the last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). Exit code 0 when the outputs checked correct,
1 when a check failed, 2 on bad usage or a missing engine checkout,
124 on timeout.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (as the engine's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, relative to the checkout root."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def run_limited(cmd, limit_s, **kw):
    """Runs cmd in its own process group and waits for it; kills the group
    at the limit or when this process is interrupted or terminated.
    Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(digest, limit_s):
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        code = run_limited(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            limit_s, cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed" if code is not None else "build timed out", 3)
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if not cp:
        fail("build printed no classpath", 3)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP, "w") as f:
        f.write(digest)


def interrupted(signum, frame):
    raise KeyboardInterrupt


def main():
    t0 = time.monotonic()
    signal.signal(signal.SIGTERM, interrupted)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest_refresh", "curation"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one checked result (self-test of the checks)")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/GraftSession.scala")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no engine sources next to the benchmark: run it from the "
             "root of a phoenixspark checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    digest = source_digest()
    built = False
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        stamp = open(STAMP).read().strip() if os.path.exists(STAMP) else ""
        if stamp != digest or not os.path.exists(CLASSPATH):
            build(digest, BUILD_LIMIT_S - (time.monotonic() - t0))
            built = True
    cp = open(CLASSPATH).read().strip()

    cpus = len(os.sched_getaffinity(0))
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True)
    print(f"info cpus {cpus} seed {a.seed} workload {a.workload} "
          "input generated (fixed data seed; the seed picks the operations)")
    print(f"info git_sha {sha.stdout.strip() if sha.returncode == 0 else 'none'} "
          f"source_digest {digest}")
    sys.stdout.flush()

    run = os.path.join(TARGET, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run, d))
    cmd = ["java", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={run}/spark-local",
            f"-Dspark.sql.warehouse.dir={run}/spark-warehouse",
            f"-Djava.io.tmpdir={run}/tmp",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--run-dir", os.path.join(run, "work"),
            "--spans", os.path.relpath(
                os.path.join(TARGET, f"spans-{a.workload}-{a.seed}.jsonl"), run)]
    if a.corrupt:
        cmd.append("--corrupt")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
    try:
        code = run_limited(cmd, max(10.0, limit), cwd=run, env=env,
                           stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(run, ignore_errors=True)
    if code is None:
        fail("run timed out", 124)
    sys.exit(code)


if __name__ == "__main__":
    main()
