#!/usr/bin/env python3
"""Run one workload of the extraction benchmark and print its result.

Run from the repository root:

    python3 extractbench/run.py --workload crawl_mix --seed 1 --seconds 20 --trace 0

The first run builds the engine and the benchmark from source with sbt
(offline, as the rest of the repository is built) and records the
runtime classpath; later runs reuse that build until a source file
changes. Each run then starts one JVM at local[nproc], with a heap
derived from the host's memory, in a fresh run directory under
`.extractbench/` that is deleted when the run ends. The JVM writes its
result, with a host fingerprint, to `.extractbench/results/`; this script
prints the result's `correct`, `attempted`, `failed` and `metrics` as one
JSON object on the last line of standard output.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".extractbench")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")

WORKLOADS = ("crawl_mix", "lake_incremental")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[extractbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(src_hash):
    """Compile with sbt unless the recorded build matches the sources."""
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == src_hash:
                return
    log("building the engine and the benchmark with sbt")
    t0 = time.time()
    tmp = os.path.join(WORK, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                        f"-Dsbt.ipcsocket.tmpdir={tmp}", "writeClasspath"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(src_hash)
    log(f"built in {time.time() - t0:.0f} s")


def mem_total_mb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def commit_id(src_hash):
    """The git commit when the tree is a repository, and always the
    hash of the sources actually built."""
    rev = "none"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True,
                                 timeout=10).stdout.strip() or "none"
        except (OSError, subprocess.SubprocessError):
            pass
    return f"{rev}+src-{src_hash[:16]}"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    engine = os.path.join(ROOT, "src", "main", "scala", "ocrspark")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(engine)):
        sys.exit("the engine's sources (build.sbt, src/main/scala/ocrspark) are "
                 "not next to this benchmark; run it from a repository checkout")

    src_hash = source_hash()
    build(src_hash)
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()

    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", tag)
    result = os.path.join(WORK, "results", tag + ".json")
    spans = os.path.join(WORK, "traces", tag + ".jsonl.gz")
    os.makedirs(os.path.join(run_dir, "tmp"))

    heap = max(2048, min(8192, mem_total_mb() // 4))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap}m", f"-Xms{heap}m", f"-Xmn{heap // 2}m",
           "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "extractbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--run-dir", run_dir, "--result", result, "--commit", commit_id(src_hash)]
    if a.trace:
        cmd += ["--spans", spans]

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        sys.exit(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}")
    with open(result) as fh:
        r = json.load(fh)
    metrics = r["metrics"]
    bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        sys.exit(f"non-finite metrics: {bad}")
    names = declared_metrics(a.trace)
    if names is not None:
        missing = [n for n in names if n not in metrics]
        if missing and r["correct"]:
            sys.exit(f"metrics missing from a correct run: {missing}")
        # a failed run may have skipped some measurements; it still
        # reports every declared metric, and correct = false
        metrics = {n: metrics.get(n, {"value": 0.0, "unit": u}) for n, u in names.items()}
    line = {"correct": r["correct"], "attempted": r["attempted"],
            "failed": r["failed"], "metrics": metrics}
    print(json.dumps(line), flush=True)


def declared_metrics(trace):
    """Name -> unit of the metrics BENCHMARK.json declares for this mode,
    or None when the file is not there."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}

if __name__ == "__main__":
    main()
