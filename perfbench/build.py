"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into one class directory under
.bench_build/perfbench, with the Scala compiler that ships among Spark's
jars. A build is skipped when a digest of every source matches the one the
last build recorded.

    python3 perfbench/build.py        # from the root of the repository
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


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    build.sbt compiles the program against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            return re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read()).group(1)
    except (OSError, AttributeError):
        raise SystemExit("perfbench: Spark's jars not found; set SPARK_HOME")


SCALA = "2.13.17"
SPARK_JARS = spark_jars()


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def read(path):
    with open(path) as fh:
        return fh.read()


def classpath(*dirs):
    return os.pathsep.join(list(dirs) + sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))


def build():
    """Returns the class directory, compiling first when a source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no src/main/scala here; run from the root of the repository")
    files = sources()
    want = digest(files)
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "classes.digest")
    if os.path.isdir(classes) and os.path.exists(stamp) and read(stamp) == want:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(os.path.join(SPARK_JARS, j) for j in (
        f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar", f"scala-reflect-{SCALA}.jar",
        "jline-3.29.0-jdk8.jar"))
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath(), "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    print(build())
