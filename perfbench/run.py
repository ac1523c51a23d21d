#!/usr/bin/env python3
"""Same-box benchmark of the graft engine: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload cycle --seed 1 --seconds 20 --trace 0

Workloads: cycle, queries_ingest, queries_iterative (see perfbench/NOTES.md).
Builds the program from this checkout's sources (perfbench/build.sbt) when
they changed, runs perfbench.Main in a fresh JVM, and prints one JSON object
as the last line of stdout: {"correct", "attempted", "failed", "metrics"}.
Every file it writes stays under perfbench/target and perfbench/out.

    python3 perfbench/run.py --record-digests [VERIFY_DIR]

re-records perfbench/expected_digests.tsv (see perfbench.Digests).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected_digests.tsv")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("cycle", "queries_ingest", "queries_iterative")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would inject (same list as the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change requires a rebuild, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (PROGRAM, os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(sha):
    if os.path.exists(STAMP) and open(STAMP).read().strip() == sha and os.path.isdir(CLASSES):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "Compile / products"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(sha + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def cores():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """A quarter of MemTotal, between 1 and 4 GiB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(1024, min(4096, kb // 4096))


def cpu_model():
    with open("/proc/cpuinfo") as fh:
        return next((l.split(":", 1)[1].strip() for l in fh if l.startswith("model name")), "unknown")


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def java_cmd(out, main, args):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 install (its jars are the runtime classpath)")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    heap = heap_mb()
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+AlwaysPreTouch",
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
        f"-Dderby.stream.error.file={os.path.join(out, 'derby.log')}",
        "-Dspark.ui.enabled=false",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    ]
    cp = CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*")
    return [java] + flags + ["-cp", cp, main] + args, flags


def run_jvm(cmd, timeout):
    """Run the JVM, relaying its stdout; kill it (and wait) on timeout."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    expired = threading.Event()

    def kill():
        expired.set()
        p.kill()

    timer = threading.Timer(timeout, kill)
    timer.start()
    try:
        for line in p.stdout:
            sys.stdout.write(line)
        code = p.wait()
    finally:
        timer.cancel()
        if p.poll() is None:
            p.kill()
        p.wait()
    if expired.is_set():
        fail(f"JVM exceeded {timeout} s")
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--record-digests", nargs="?", const="", metavar="VERIFY_DIR")
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM) or not os.path.isdir(DATA):
        fail(f"no program sources under {PROGRAM} or no data under {DATA}; run from a full checkout")
    sha = source_sha()
    build(sha)
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)

    if a.record_digests is not None:
        out = os.path.join(HERE, "out", "digests")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.join(out, "tmp"))
        args = [os.path.join(DATA, "sf0.1"), EXPECTED, str(cores())] + ([os.path.abspath(a.record_digests)] if a.record_digests else [])
        cmd, _ = java_cmd(out, "perfbench.Digests", args)
        sys.exit(run_jvm(cmd, 3600))

    if None in (a.workload, a.seed, a.seconds, a.trace):
        fail("--workload, --seed, --seconds and --trace are required")
    out = os.path.join(HERE, "out", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd, flags = java_cmd(out, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", DATA, "--expected", EXPECTED, "--out", out,
        "--cores", str(cores())])
    stamp = {"nproc": cores(), "cpu_model": cpu_model(), "loadavg_start": loadavg(),
             "jvm_flags": flags, "git_sha": git_sha(), "source_sha256": sha,
             "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace}
    code = run_jvm(cmd, RUN_TIMEOUT_S)
    stamp["loadavg_end"] = loadavg()
    with open(os.path.join(out, "stamp.json"), "w") as fh:
        json.dump(stamp, fh)
    print("stamp " + json.dumps(stamp))
    result_file = os.path.join(out, "result.json")
    for d in ("cycle", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    if code != 0 or not os.path.exists(result_file):
        fail(f"JVM exited with {code} and no result")
    with open(result_file) as fh:
        r = json.load(fh)
    if not all(math.isfinite(m["value"]) for m in r["metrics"].values()):
        fail(f"non-finite metric in {result_file}")
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
