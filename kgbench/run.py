#!/usr/bin/env python3
"""Run one benchmark workload of graft's knowledge-graph pipeline.

    python3 kgbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Builds the program from source if needed (kgbench/build.py), then runs the
workload in one JVM on local[nproc]. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics, with --trace 1 the per-layer metrics.
Logs go to standard error. All files are written under the build directory
and removed at the end of the run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["kg_batch", "kg_stream"]
TIMEOUT_S = 170
T0 = time.time()

# Spark on JDK 17 needs these outside spark-submit (the same list the
# program's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def driver_mem():
    """Heap from MemTotal: half the memory in GiB, clamped to 2..8g."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
                return f"{min(max(g, 2), 8)}g"
    return "2g"


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                   help="Spark local[N] threads (default: nproc)")
    a = p.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.build_dir(), "work", f"run-{os.getpid()}")
    base = ["java", f"-Xmx{driver_mem()}", "-Xss8m"]
    for m in ADD_OPENS:
        base += ["--add-opens", f"{m}=ALL-UNNAMED"]
    base += [f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j.configurationFile={HERE}/log4j2.properties",
             "-cp", f"{classes}:{jars}/*", "kgbench.BenchMain",
             "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", a.trace,
             "--work", work, "--cores", str(a.cores)]
    # a SIGTERM unwinds through the finally in jvm(), which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = jvm(base, work)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {TIMEOUT_S}s; stopped", file=sys.stderr)
        return 3
    if result is None:
        return 1
    print(f"[run.py] done after {time.time() - T0:.1f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0


def jvm(cmd, work):
    """Run the benchmark JVM in a fresh `work` directory, within what is
    left of the time limit. Returns its result object, or None if it
    failed."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = cmd + ["--launch-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, T0 + TIMEOUT_S - time.time()))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("KGBENCH_RESULT "):
            result = json.loads(line[len("KGBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        print(f"workload failed (exit code {proc.returncode})", file=sys.stderr)
        return None
    return result


if __name__ == "__main__":
    sys.exit(main())
