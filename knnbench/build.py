"""Build file of the kNN benchmark: compiles the engine and the benchmark.

The engine's Scala sources (``src/main/scala`` at the repository root) and
the benchmark's own sources (``knnbench/src``) are compiled together with
the Scala compiler that ships in the Spark distribution, against the Spark
jars, into ``.bench_build/knnbench/classes-<hash>``. The hash covers every
source file, so an unchanged tree reuses its classes and an edited one
rebuilds. Run from the repository root:

    python3 knnbench/build.py        # prints the classes directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(".bench_build", "knnbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars beside a `bin/` directory on PATH that holds spark-submit."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.abspath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found under {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"),
                              recursive=True))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def build(root="."):
    """Compile if needed; return the classes directory."""
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(root, BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    stale = glob.glob(os.path.join(root, BUILD_DIR, "classes-*"))
    for d in stale:
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", jars] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
