#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the benchmark sources (perfbench/src) into
perfbench/out/classes with the Scala compiler that ships in the Spark jars
directory. Rebuilds only when a source file changed.

    python3 perfbench/build.py        # from the root of the checkout
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
OUT = os.path.join(HERE, "out")
CLASSES = os.path.join(OUT, "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")


def spark_jars():
    """The jars directory the program builds against: $SPARK_HOME/jars, else
    the `unmanagedBase` that the program's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    sys.exit("perfbench: no Spark jars directory (set SPARK_HOME)")


def sources():
    prog = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog, bench


def build():
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    prog, bench = sources()
    if not prog:
        sys.exit(f"perfbench: no program sources under {PROGRAM_SRC}")
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()
    stamp = os.path.join(CLASSES, ".stamp")
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classpath
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        sys.exit(f"perfbench: no Scala compiler jars in {jars}")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.path.join(jars, "*")] + prog + bench
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(key)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return classpath


if __name__ == "__main__":
    print(build())
