"""Builds graft plus the benchmark harness with scalac, no sbt.

The classes go to `.bench_build/perfbench/classes` under the checkout and
are rebuilt only when a source file or the compiler classpath changes.
The Scala compiler and Spark are the jars graft's build.sbt compiles
against.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
# Spark 4 on JDK 17 outside spark-submit needs the same opens as build.sbt
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def sources():
    """Every main source of graft plus the harness, sorted."""
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: graft sources not found at {main}")
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath():
    """The Spark jars graft compiles against: the `unmanagedBase` that
    graft's build.sbt names, else $SPARK_HOME/jars. Their Scala compiler
    builds the harness."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler at '{jars}'")
    return os.path.join(jars, "*")


def build():
    """Compile if needed; return the runtime classpath."""
    srcs = sources()
    jars = classpath()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    key = h.hexdigest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == key:
                return CLASSES + os.pathsep + jars
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{s}"' for s in srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss16m", "-cp", jars, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with open(stamp, "w") as fh:
        fh.write(key)
    return CLASSES + os.pathsep + jars


if __name__ == "__main__":
    print(build())
