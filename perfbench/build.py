#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) from
source together with the benchmark harness (perfbench/harness) into
.bench_build/classes, using the Scala compiler that ships in the Spark
jar directory build.sbt compiles against. Nothing prebuilt (target/) is
used.

The build is skipped when a stamp of every source file's content and of
the compiler command matches the last successful build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

SCALA = "2.13.17"
BUILD_DIR = ".bench_build"
# scalac recurses once per operand of the registry's long `++` chain; the
# default thread stack overflows on it
COMPILER_JVM = ["-Xss64m", "-Xmx3g"]


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/harness"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars(root):
    """The Spark jar directory the sbt build compiles against (its
    unmanagedBase), unless SPARK_JARS names another."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: no unmanagedBase in build.sbt; set SPARK_JARS")
    return m.group(1)


def runtime_classpath(root):
    return os.path.join(root, BUILD_DIR, "classes") + ":" + spark_jars(root) + "/*"


def build(root="."):
    """Compile if needed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        raise SystemExit("perfbench: no src/main/scala here; run from the "
                         "repository root")
    jar_dir = spark_jars(root)
    jars = [os.path.join(jar_dir, f"scala-{m}-{SCALA}.jar")
            for m in ("compiler", "library", "reflect")]
    missing = [j for j in jars if not os.path.exists(j)]
    if missing:
        raise SystemExit(f"perfbench: Scala compiler jars missing: {missing}")
    srcs = sources(root)
    cmd = (["java"] + COMPILER_JVM + ["-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", jar_dir + "/*"])
    h = hashlib.sha256(" ".join(cmd).encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp_path = os.path.join(root, BUILD_DIR, "classes.stamp")
    out = os.path.join(root, BUILD_DIR, "classes")
    if os.path.exists(stamp_path) and open(stamp_path).read() == h.hexdigest():
        return runtime_classpath(root)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd + ["-d", out, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp_path, "w") as f:
        f.write(h.hexdigest())
    return runtime_classpath(root)


if __name__ == "__main__":
    print(build())
