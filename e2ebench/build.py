"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`e2ebench/scala`) with scalac into one class directory.

The compiler and the Spark runtime come from the Spark distribution
(`$SPARK_HOME/jars`, or the one `spark-submit` on PATH belongs to); the
engine's own build uses the same jars. A content stamp over every source
skips the compile when nothing changed.

Usage: python3 e2ebench/build.py   (prints the class path)
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "e2ebench")
CLASSES = os.path.join(OUT, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("engine sources not found under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(ROOT, "e2ebench", "scala", "*.scala")))


def classpath(jars):
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([CLASSES, resources, os.path.join(jars, "*")])


def stamp():
    """A content hash over every source the build compiles."""
    h = hashlib.sha256()
    for s in sources():
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles if any source changed; returns the run-time class path."""
    jars = spark_jars()
    srcs = sources()
    stamp_file = os.path.join(OUT, "classes.stamp")
    new = stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == new:
        return classpath(jars)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", CLASSES, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(new)
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(str(e))
