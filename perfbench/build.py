#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) together
with the benchmark harness (perfbench/harness) into one classes directory
under .bench_build, with the Scala compiler that ships among the Spark
jars the repo's build.sbt points at.

Usage: python3 perfbench/build.py   (from the repo root; prints the
classes directory). A build is keyed by a hash of every source file, so
an unchanged tree is not compiled twice.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"
JAR = "perfbench.jar"


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the one build.sbt
    declares as its unmanaged base."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise RuntimeError("cannot find the Spark jars (set SPARK_HOME)")
    return m.group(1)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    if not main:
        raise RuntimeError("no program sources under src/main/scala")
    return main + harness


def build(root="."):
    root = os.path.abspath(root)
    jars = spark_jars(root)
    srcs = sources(root)
    resources = os.path.join(root, "src/main/resources")
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    if os.path.isdir(resources):
        for dirpath, _, files in sorted(os.walk(resources)):
            for n in sorted(files):
                p = os.path.join(dirpath, n)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    base = os.path.join(root, BUILD_DIR)
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out, jars
    os.makedirs(base, exist_ok=True)
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(base, "sources%d.txt" % os.getpid())
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % p for p in srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-d", tmp, "-cp", cp, "@" + argfile]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=800)
    finally:
        os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:])
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    # the classes also go into one jar: a class-data archive (run.py) can
    # only cover classes loaded from jars
    with zipfile.ZipFile(os.path.join(tmp, JAR), "w", zipfile.ZIP_STORED) as z:
        for dirpath, dirs, files in sorted(os.walk(tmp)):
            dirs.sort()
            for n in sorted(files):
                if n != JAR:
                    p = os.path.join(dirpath, n)
                    z.write(p, os.path.relpath(p, tmp))
    open(os.path.join(tmp, ".complete"), "w").close()
    if os.path.exists(out):
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.rename(tmp, out)
    # earlier builds and their class-data archives
    for old in glob.glob(os.path.join(base, "classes-*")):
        if not old.startswith(out) and ".tmp" not in old:
            if os.path.isdir(old):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.remove(old)
    return out, jars


if __name__ == "__main__":
    try:
        print(build(".")[0])
    except Exception as e:  # noqa: BLE001 - the message is the point
        print(e, file=sys.stderr)
        sys.exit(1)
