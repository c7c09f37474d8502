"""Build file of the benchmark package: compiles the graft sources of the
checkout together with the benchmark's own sources into one class
directory, with the Scala compiler among the Spark jars that build.sbt
names as its unmanaged base.

    python3 perfbench/build.py        # build if any source changed

The build is skipped when a stamp of every source file's path and
content matches the last build's.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_ROOTS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BUILD = os.path.join(HERE, "build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    """The Spark jar directory the project's own build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: no unmanagedBase in build.sbt")
    return m.group(1)


def sources():
    out = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise SystemExit(f"perfbench: source directory missing: {os.path.relpath(root, ROOT)}")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files + resource_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def resource_files():
    out = []
    for d, _, files in os.walk(RESOURCES):
        out += [os.path.join(d, f) for f in files]
    return sorted(out)


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def build():
    files = sources()
    jars = os.path.join(spark_jars(), "*")
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    if os.path.exists(STAMP):
        os.remove(STAMP)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    build()
