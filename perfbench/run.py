#!/usr/bin/env python3
"""Pipeline benchmark runner.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload meter_batch_stream --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build, runs one workload in one JVM, checks that the
run left no store root behind, and prints the human-readable figures followed
by one JSON object (the result) as the last line of stdout. Exits non-zero,
without a result, when the engine sources are missing or the run crashes.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("meter_batch_stream", "corpus_rtbf")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (as in the engine build).
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


def source_hash():
    """Hash of every file the build reads: engine and benchmark sources and build files."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The benchmark's runtime classpath, building first when sources changed."""
    os.makedirs(TARGET, exist_ok=True)
    stamp = os.path.join(TARGET, "bench-build.json")
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_hash()
        if os.path.exists(stamp):
            with open(stamp) as fh:
                built = json.load(fh)
            if built.get("hash") == digest:
                return built["classpath"]
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
            timeout=BUILD_TIMEOUT_S)
        lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines or lines[-1].startswith("["):
            sys.stderr.write(proc.stdout)
            fail(f"build failed (sbt exit {proc.returncode})")
        cp = lines[-1]
        with open(stamp, "w") as fh:
            json.dump({"hash": digest, "classpath": cp}, fh)
        return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(f"engine sources not found under {ROOT}")
    cp = classpath()

    work = os.path.join(TARGET, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    spans = os.path.join(TARGET, "trace", f"{args.workload}-seed{args.seed}.jsonl")
    # Every file the JVM writes stays in the run's work directory. The JIT stops at its first
    # tier: a run's JVM lives about a minute, too short for the optimising tier to finish
    # compiling Spark, and its compiler threads would take the 4-core host's CPU from the
    # workload at moments that differ run to run. That mode's default 48 MB code cache fills
    # during corpus_rtbf, which then stops compiling (and can fail a method-handle link), so
    # the cache is sized up.
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--result", result, "--spans", spans,
            "--launch-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)

    def stop(reason):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(reason)

    # the JVM runs in its own process group: if this script is stopped, stop it too
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda signum, _: stop(f"stopped by signal {signum}"))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(f"run exceeded {RUN_TIMEOUT_S} s")
    if proc.returncode != 0 or not os.path.exists(result):
        sys.stdout.write(out)
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run failed (exit {proc.returncode})")
    with open(result) as fh:
        res = json.load(fh)

    # the JVM deletes its store roots; anything but Spark's scratch left here is a leak
    leftover = sorted(set(os.listdir(work)) - {"tmp", "spark-local", "warehouse", "result.json"})
    shutil.rmtree(work, ignore_errors=True)
    if leftover or os.path.exists(work):
        res["failed"] += 1
        res["correct"] = False
        out += f"FAILED run left behind: {', '.join(leftover) or work}\n"
    sys.stdout.write(out)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
