#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's own (perfbench/src) into .bench_build/classes,
with the Scala compiler that ships among Spark's jars. Recompiles only
when a source file changed.

    python3 perfbench/build.py          # from the root of a checkout

Spark's jars come from $SPARK_HOME/jars, else from the `unmanagedBase`
that the repository's build.sbt names.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

# what the repository's build.sbt passes to forked JVMs (JDK 17 module
# opens that spark-submit would otherwise add)
JVM_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("no Spark jars: set SPARK_HOME")
    return m.group(1)


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not found:
        sys.exit(f"no graft sources under {root}/src/main/scala: "
                 "run from the root of a graft checkout")
    return found + sorted(glob.glob(os.path.join(root, "perfbench", "src", "*.scala")))


def ensure(root, build_dir):
    """Compiles if needed; returns the runtime classpath."""
    srcs = sources(root)
    jars = os.path.join(spark_jars(root), "*")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    cp = f"{classes}{os.pathsep}{jars}"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    sys.stderr.write(f"compiling {len(srcs)} sources ...\n")
    p = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if p.returncode != 0:
        sys.exit("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    print(ensure(root, os.path.join(root, ".bench_build")))
