#!/usr/bin/env python3
"""Benchmark for graft's CDC capture path, its index-maintenance stream and
warm probes.

Usage (from the repository root):

    python3 perfbench/run.py --workload capture_wire|index_stream|probe_mix \
        --seed N --seconds S --trace 0|1

Builds the library and the harness from source with sbt on first use (the
classpath is cached under perfbench/.build, keyed by a hash of the
sources), then runs one workload in a fresh JVM on local[<cores>] with
shuffle partitions equal to the core count, a single closed-loop client, an
in-memory catalog and a private work directory that is deleted afterwards.
The last line of standard output is the JSON result. The process exits
non-zero, without a result line, if the build or the run fails, and with
code 1 after the result line if an output check failed.
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
BUILD = os.path.join(HERE, ".build")
FIXTURE = os.path.join(HERE, "fixture", "tpch")
WORKLOADS = ("capture_wire", "index_stream", "probe_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

# The module openings Spark needs on JDK 17 when started outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
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


def source_hash():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the graft library sources (src/main/scala/graft) are missing")
    stamp = os.path.join(BUILD, "classpath")
    key = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached_key, cp = fh.read().split("\n", 1)
        if cached_key == key:
            return cp.strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S}s")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(key + "\n" + cp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def java_cmd(cp, work, main_args):
    """The harness JVM command line; creates the private work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.catalogImplementation=in-memory",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dspark.local.dir={os.path.join(work, 'local')}",
           f"-Dperfbench.goldens={os.path.join(HERE, 'goldens.json')}",
           f"-Dperfbench.fixture={FIXTURE}",
           "-cp", cp]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["perfbench.Main", "--work", work] + main_args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{int(time.time() * 1000)}")
    cmd = java_cmd(cp, work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores)])
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)

    # a stopped benchmark still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    result = None
    code = 2
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s and was killed", file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass

    for line in out.splitlines():
        if line.startswith("{"):
            result = line
        else:
            print(line)
    if code not in (0, 1) or result is None:
        sys.stderr.write(err[-6000:])
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        sys.exit(code if code not in (0, 1) else 2)
    parsed = json.loads(result)
    assert set(parsed) == {"correct", "attempted", "failed", "metrics"}
    print(result)
    sys.exit(0 if parsed["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
