"""Build step of the graft benchmark: compiles the engine's sources, the
reference fold from its tests, and the benchmark harness with the Scala
compiler that ships in Spark's jars. Output goes to perfbench/.build and is
reused while no source file changes.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")


class BuildError(Exception):
    pass


def spark_jars():
    jars = sorted(glob.glob(os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    oracle = os.path.join(ROOT, "src", "test", "scala", "graft", "OracleFold.scala")
    if not os.path.isdir(os.path.join(engine, "graft")) or not os.path.isfile(oracle):
        raise BuildError("engine sources not found next to perfbench/ (run from a full checkout)")
    srcs = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    srcs += [oracle] + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return srcs


def ensure_built():
    """Return (classes dir, classpath list); compile only when sources changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "stamp")
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes, jars
    shutil.rmtree(OUT, ignore_errors=True)
    tmp = os.path.join(OUT, "classes.tmp")
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise BuildError(f"scalac failed with code {r.returncode}")
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, jars


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
