#!/usr/bin/env python3
"""perfbench's own tests: generator determinism, span nesting and self
times, failure accounting, and BENCHMARK.json agreeing with the program.

    python3 perfbench/test.py

Run from the repository root; builds like run.py does.
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def main():
    root = os.getcwd()
    try:
        classes, jars = build.ensure_built(root, lambda m: print(m, file=sys.stderr))
    except build.BuildError as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2
    tmp = os.path.join(root, build.BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java_bin(), "-Xmx1g", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.SelfTest"]
    return subprocess.run(cmd, stdin=subprocess.DEVNULL, timeout=600).returncode


if __name__ == "__main__":
    sys.exit(main())
