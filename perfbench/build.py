#!/usr/bin/env python3
"""Build of the benchmark: compiles src/main/scala and perfbench/scala.

    python3 perfbench/build.py

Run from the repository root. The Scala compiler that ships in the Spark
jar directory (build.sbt's unmanagedBase) writes the classes to
.bench_build/perfbench/classes-<hash>, where <hash> covers every source and
the jar names, so a change always rebuilds and an unchanged tree never does.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

from benchlib import BenchError

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(".bench_build", "perfbench")


def spark_jars():
    """The Spark jar directory build.sbt compiles against (unmanagedBase)."""
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        raise BenchError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        raise BenchError("no program sources under src/main/scala; "
                         "run from the root of an htmlspark checkout")
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "scala", "**", "*.scala"),
                             recursive=True))
    return main + bench


def build():
    """Compiles the program and the benchmark's JVM side into a directory
    keyed by a hash of every source, so a change always rebuilds."""
    srcs = sources()
    jar_dir = spark_jars()
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise BenchError(f"no Spark jars in {jar_dir}")
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    key = h.hexdigest()[:16]
    out = os.path.join(BUILD_DIR, f"classes-{key}")
    if os.path.exists(os.path.join(out, ".complete")):
        return out, key
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(out)
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-", j)]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", ":".join(jars), "-d", out] + srcs
    t0 = time.time()
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        raise BenchError("compilation failed")
    open(os.path.join(out, ".complete"), "w").close()
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s")
    return out, key


if __name__ == "__main__":
    try:
        print(build()[0])
    except BenchError as e:
        sys.exit(f"build error: {e}")
