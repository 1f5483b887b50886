#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's main sources (../src/main/scala) together with the
benchmark's own Scala sources (scala/) with the Scala 2.13 compiler that
ships in Spark's jar directory, into `.bench_build/classes-<digest>` under
the repository root. The digest covers every source file, so an unchanged
tree is built once and reused.

Usage: python3 perfbench/build.py        (prints the classes directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    raise SystemExit("build: no Spark jars (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(BENCH_DIR, "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit("build: graft sources not found under src/main/scala")
    return main + own


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure(log=sys.stderr):
    """Returns the classes directory, compiling first when needed."""
    files = sources()
    out = os.path.join(BUILD_DIR, "classes-" + digest(files))
    done = os.path.join(out, ".complete")
    if os.path.exists(done):
        return out
    jars = spark_jars()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss32m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"build: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit("build: compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure())
