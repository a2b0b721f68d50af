#!/usr/bin/env python3
"""Run one perfbench workload and print its result.

    python3 perfbench/run.py --workload billing_daily --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run compiles the engine and the
benchmark (see build.py); later runs reuse the classes. The JVM prints a
human-readable report; the last line on stdout is the JSON result
`{"correct", "attempted", "failed", "metrics"}` read back from the file the
JVM wrote. Everything the run writes stays under `.bench_build/`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("billing_daily", "corpus_lifecycle")
RUN_TIMEOUT_S = 170
# the run that writes the class-data sharing archive (below) also dumps it
DUMP_TIMEOUT_S = 600

# Spark on JDK 17 outside spark-submit needs these module opens
# (org.apache.spark.launcher.JavaModuleOptions).
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
    print(msg, file=sys.stderr, flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    try:
        classes, jars = build.ensure_built(root, log)
    except build.BuildError as e:
        log(f"perfbench: cannot build: {e}")
        return 2

    base = os.path.join(root, build.BUILD_DIR)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(base, "work", f"{tag}-{os.getpid()}")
    result = os.path.join(base, "results", f"{tag}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.dirname(result), exist_ok=True)
    if os.path.exists(result):
        os.remove(result)

    # Class-data sharing: a workload's first run on a build records the
    # classes it loaded into an archive next to the jar (when the JVM exits,
    # after the result is written), and later runs map them from it. On the
    # 4-core host that cut session start plus the first query from about
    # 20 s to 8 s, a cost every run pays before its first timed operation.
    # One archive per workload, so that what a run finds archived does not
    # depend on which workload ran first.
    archive = f"{classes[:-len('.jar')]}-{args.workload}.jsa"
    dumping = not os.path.isfile(archive)
    cds = (f"-XX:ArchiveClassesAtExit={archive}.tmp" if dumping
           else f"-XX:SharedArchiveFile={archive}")
    cmd = [build.java_bin(), "-Xmx2g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m",
           cds, "-Xlog:cds*=off", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--result", result, "--results-dir", os.path.dirname(result)]
    t0 = time.monotonic()
    child = subprocess.Popen(cmd, stdin=subprocess.DEVNULL)

    def stop(signum, _frame):
        child.terminate()
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = child.wait(timeout=DUMP_TIMEOUT_S if dumping else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
        log("perfbench: run exceeded its time limit and was stopped")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"perfbench: JVM exited {code} after {time.monotonic() - t0:.1f}s")
    if dumping and code == 0 and os.path.isfile(archive + ".tmp"):
        os.rename(archive + ".tmp", archive)
    if code != 0 or not os.path.isfile(result):
        return code or 4
    with open(result) as f:
        out = json.load(f)
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
