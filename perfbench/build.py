#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's main sources (src/main/scala) together with the
harness (perfbench/src) with the Scala compiler that ships among Spark's
jars, into <build dir>/perfbench/classes. The build is skipped when no
source file changed since the last one.

Usage: python3 perfbench/build.py   (prints the classes directory)
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


class BuildError(Exception):
    pass


def build_dir():
    """Where build outputs go: $CARGO_TARGET_DIR if set, else .bench_build."""
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt names."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    raise BuildError("Spark's jars not found (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError(f"no graft sources under {ROOT}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    """Compile if needed; return (classes dir, Spark jar dir)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + sorted(os.listdir(jars)):
        h.update(p.encode())
        if os.path.isfile(p):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(1)
