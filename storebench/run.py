#!/usr/bin/env python3
"""Run one storebench workload and print its JSON result as the last line.

    python3 storebench/run.py --workload history|corpus --seed N \
        --seconds S --trace 0|1

Builds the benchmark (with graft's main sources) on first use, offline,
into storebench/target; then starts one JVM on local[nproc] Spark with a
heap sized from the host's memory, a fresh library root and Spark local
dir under storebench/.run (deleted afterwards). Traced runs write their
spans to storebench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(REPO, "src", "main", "scala", "graft")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "storebench-build.sha256")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def spark_home():
    """$SPARK_HOME, else the first spark-submit on PATH with a jars/ dir beside its bin/."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return None


def log(msg):
    print(f"[storebench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src", "main"), os.path.join(REPO, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(spark):
    digest = source_hash()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building (sbt compile, offline)")
    env = dict(os.environ, SPARK_HOME=spark)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true", "compile"]
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.exit(f"[storebench] build failed (exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def memory_bytes():
    total = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total = int(line.split()[1]) * 1024
    try:
        limit = open("/sys/fs/cgroup/memory.max").read().strip()
        if limit.isdigit():
            total = min(total, int(limit))
    except OSError:
        pass
    return total


def heap_mb():
    """A quarter of the host's memory, between 1 and 4 GiB."""
    return max(1024, min(4096, memory_bytes() // 4 // (1 << 20)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["history", "corpus"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isdir(GRAFT_SRC):
        sys.exit(f"[storebench] graft sources not found at {os.path.relpath(GRAFT_SRC, os.getcwd())}")
    spark = spark_home()
    if not spark or not os.path.isdir(os.path.join(spark, "jars")):
        sys.exit("[storebench] no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    if not shutil.which("sbt"):
        sys.exit("[storebench] sbt is not on PATH")
    build(spark)

    cores = len(os.sched_getaffinity(0))
    heap = heap_mb()
    runs = os.path.join(HERE, ".run")
    os.makedirs(runs, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=runs)
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", CLASSES + os.pathsep + os.path.join(spark, "jars", "*"), "storebench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--root", root, "--out", os.path.join(HERE, "out"),
              "--cores", str(cores)])
    log(f"starting JVM: heap {heap} MiB, local[{cores}]")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"[storebench] run exceeded {RUN_TIMEOUT_S}s")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    log("JVM exited")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"[storebench] JVM exited {proc.returncode}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
