"""Build file of the benchmark package: compiles the engine (`src/main/scala`)
together with the benchmark's own Scala sources (`perfbench/scala`) into
`.bench_build/classes`, with the Scala compiler that ships among the Spark
jars the repository's `build.sbt` compiles against (`unmanagedBase`, or
`$SPARK_HOME/jars`). A stamp of the sources skips the compile when nothing
changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "scala")]


class BuildError(Exception):
    pass


def jar_dir():
    """The Spark jar directory the repository builds against."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(sbt):
            raise BuildError("no build.sbt and no SPARK_HOME: cannot find Spark")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            raise BuildError("build.sbt names no unmanagedBase jar directory")
        d = m.group(1)
    if not glob.glob(os.path.join(d, "spark-core_*.jar")):
        raise BuildError(f"no Spark jars in {d}")
    return d


def classpath():
    """Runtime classpath: the compiled classes plus every Spark jar."""
    jars = sorted(glob.glob(os.path.join(jar_dir(), "*.jar")))
    return os.pathsep.join([CLASSES] + jars)


def _sources():
    files = []
    for d in SOURCES:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compile if the sources changed since the last build; return the
    runtime classpath."""
    files = _sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    jars = jar_dir()
    scalac = [p for p in glob.glob(os.path.join(jars, "scala-*.jar"))
              if os.path.basename(p).startswith(
                  ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(scalac) != 3:
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    if os.path.isdir(CLASSES):
        shutil.rmtree(CLASSES)
    os.makedirs(CLASSES)
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    args = os.path.join(OUT, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", os.pathsep.join(scalac),
         "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", cp,
         "@" + args],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
    print("built", CLASSES)
