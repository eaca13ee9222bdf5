"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark runner (perfbench/src) with the Scala compiler that ships in
Spark's jar directory, into perfbench/target/classes.

A stamp over the source contents makes the build a no-op when nothing
changed. Run it alone with `python3 perfbench/build.py`.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "classes.stamp")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, or the one beside the
    spark-submit on PATH. It must hold the Scala compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under '{jars}' (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"build: engine sources not found at {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def stamp_of(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return (classpath, source hash)."""
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files, jars)
    cp = CLASSES + os.pathsep + jars
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return cp, stamp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return cp, stamp


if __name__ == "__main__":
    print(build()[1])
