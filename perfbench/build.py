"""Build file of the perfbench package.

The benchmark is a Scala program compiled together with the engine's own
sources (`src/main/scala` at the repository root) against the Spark jars
that ship with the Spark installation (`$SPARK_HOME/jars`, or the jars
bundled in the `pyspark` Python package when SPARK_HOME is unset). The
compiler is the `scala-compiler` jar Spark ships, so no build tool and no
dependency download is involved.

Output is one jar, `.bench_build/perfbench-<digest>.jar` under the checkout
root, where `<digest>` hashes every compiled source, so an unchanged tree
is built once and a changed one is rebuilt. A jar rather than a class
directory, because the JVM's class-data sharing archive (see run.py) can
only hold classes loaded from jars.
"""
import glob
import hashlib
import os
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE_SOURCES = os.path.join("src", "main", "scala")
BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    """Directory holding the Spark (and Scala) jars to compile and run with."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark  # noqa: F401  (only its location is used)
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in candidates:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")) and \
                glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark jars found: set SPARK_HOME")


def sources(root):
    out = []
    for d in (os.path.join(root, ENGINE_SOURCES), os.path.join(HERE, "src")):
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, root)}")
        for dirpath, _, files in os.walk(d):
            out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def digest(root, srcs, jars):
    h = hashlib.sha256()
    for jar in sorted(os.listdir(jars)):
        h.update(jar.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def ensure_built(root, log):
    """Compile if needed; returns (classes_jar, jars_dir)."""
    jars = spark_jars()
    srcs = sources(root)
    out = os.path.join(root, BUILD_DIR, f"perfbench-{digest(root, srcs, jars)}.jar")
    if os.path.isfile(out):
        return out, jars
    for old in glob.glob(os.path.join(root, BUILD_DIR, "perfbench-*")):
        os.remove(old)
    tmp = out[:-len(".jar")] + ".tmp.jar"
    os.makedirs(os.path.dirname(out), exist_ok=True)
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java_bin(), "-Xmx3g", "-Xss16m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    log(f"perfbench: compiling {len(srcs)} sources")
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    os.rename(tmp, out)
    return out, jars
