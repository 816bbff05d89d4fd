"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala` at the repository root) together with the benchmark's
own JVM harness (`perfbench/src`) with the Scala compiler that ships in
Spark's jar directory (see `spark_jars`). No sbt, no network, nothing
written outside `perfbench/.build`.

    python3 perfbench/build.py      # prints the classes directory

The build is skipped when a stamp of every source file's path and
content matches the last successful build.
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
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# repository's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory build.sbt names as its
    `unmanagedBase` (the same jars the sbt build compiles against)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read()).group(1)
        except (OSError, AttributeError):
            raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + own


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    files = sources()
    want = stamp(files)
    stamp_path = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_path) and open(stamp_path).read() == want:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp_path, "w") as fh:
        fh.write(want)
    return CLASSES


if __name__ == "__main__":
    print(build())
