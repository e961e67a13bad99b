#!/usr/bin/env python3
"""Build the benchmark: compile the graft library sources (src/main/scala)
and the benchmark sources (perfbench/src) with scalac into
.bench_build/perfbench/classes-<hash>, where <hash> covers every source
file, so an unchanged tree is compiled once.

The Spark and Scala jars come from the directory named by $SPARK_JARS, else
$SPARK_HOME/jars, else the `unmanagedBase` the repository's build.sbt
declares; the Scala compiler is the scala-compiler jar among them.

    python3 perfbench/build.py     # prints the classes directory
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
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 outside spark-submit needs these (as build.sbt sets them).
JAVA_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def jar_dir():
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_JARS or SPARK_HOME")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    own = os.path.join(HERE, "src")
    if not os.path.isdir(lib):
        raise BuildError(f"library sources not found under {lib}")
    files = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(own, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError("no Scala sources")
    return files


def build():
    """Compile if needed; return (classes dir, jar dir, resources dir)."""
    jars = jar_dir()
    if not glob.glob(os.path.join(jars, "scala-compiler*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    files = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(resources, "**", "*"),
                                      recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            h.update(open(f, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out_root = os.path.join(ROOT, ".bench_build", "perfbench")
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes, jars, resources
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-nowarn", "-d", tmp, "@" + argfile]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"scalac exceeded {BUILD_TIMEOUT_S} s")
    finally:
        os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    if os.path.exists(classes):
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        os.rename(tmp, classes)
    # builds of other source trees are stale now
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        if old != classes and not old.endswith(".args"):
            shutil.rmtree(old, ignore_errors=True)
    return classes, jars, resources


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
