#!/usr/bin/env python3
"""Run one graftbench workload in a fresh JVM and print its result line.

    python3 graftbench/run.py --workload crawl_scan --seed 1 --seconds 12 --trace 0

Builds graft and the benchmark from source with sbt when the sources
changed since the last build (the classpath is cached under
graftbench/target), then runs graftbench.Main with a pinned heap. The
last line of standard output is the result object; the line before it
holds the run's details (JVM and Spark flags, host noise, sample counts).
"""
import argparse
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
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
# Class-data-sharing archive of the classes a run loads, dumped by a short
# training run after each build: it cuts JVM and Spark start-up by seconds.
CDS = os.path.join(TARGET, "graftbench.jsa")

WORKLOADS = ("crawl_scan", "index_maintain")
HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: graft's build and sources, and ours."""
    roots = [
        (ROOT, ["build.sbt"]),
        (os.path.join(ROOT, "project"), None),
        (os.path.join(ROOT, "src", "main"), None),
        (HERE, ["build.sbt"]),
        (os.path.join(HERE, "project"), None),
        (os.path.join(HERE, "src", "main"), None),
    ]
    out = []
    for base, names in roots:
        if names is not None:
            out += [os.path.join(base, n) for n in names]
            continue
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return out


def missing_sources():
    need = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "build.sbt")]
    return [p for p in need if not os.path.exists(p)]


def sources_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def classpath_ok():
    if not os.path.exists(CLASSPATH):
        return False
    with open(CLASSPATH) as f:
        return all(os.path.exists(p) for p in f.read().strip().split(os.pathsep))


def build():
    digest = sources_digest()
    if classpath_ok() and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    log("building graft and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    code, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "writeClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not classpath_ok():
        raise RuntimeError(f"sbt build failed (exit {code})")
    if os.path.exists(CDS):
        os.remove(CDS)
    try:
        code, _ = launch("crawl_scan", 1, 0, "0", [f"-XX:ArchiveClassesAtExit={CDS}"],
                         quick=True)
    except subprocess.TimeoutExpired:
        code = "timeout"
    if code != 0:
        log(f"class-data-sharing training run failed (exit {code}); runs go without it")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    log(f"built in {time.time() - t0:.0f} s")


def launch(workload, seed, seconds, trace, jvm_flags, quick=False):
    """Run graftbench.Main in a fresh JVM in a scratch directory under
    target/work (removed afterwards); returns (exit code, stdout)."""
    work = os.path.join(TARGET, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + jvm_flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={work}",
        "-cp", cp, "graftbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", trace, "--work", work, "--results", os.path.join(TARGET, "results"),
        "--quick", "1" if quick else "0",
        "--launch-ms", str(int(time.time() * 1000)),
    ]
    try:
        return run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL if quick else None,
                           stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    gone = missing_sources()
    if gone:
        log("graft sources not found (run from a checkout of the repository): " +
            ", ".join(os.path.relpath(p, ROOT) for p in gone))
        return 2
    try:
        build()
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 3

    t0 = time.time()
    extra = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    try:
        code, out = launch(a.workload, a.seed, a.seconds, a.trace, extra)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 5
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out)
        log(f"benchmark JVM exited with {code}")
        return 4
    result = json.loads(lines[-1])
    want = expected_metrics(a.trace == "1")
    if sorted(result.get("metrics", {})) != sorted(want):
        log(f"metric names differ from BENCHMARK.json: {sorted(result.get('metrics', {}))}")
        return 4
    log(f"run took {time.time() - t0:.1f} s")
    for l in lines[:-1]:
        print(l)
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
