#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark program (perfbench/src) into one class directory.

Usage (from the repository root): python3 perfbench/build.py

Uses the Scala compiler shipped in the Spark distribution
($SPARK_HOME/jars, or the one beside spark-submit on PATH), so it needs
no build tool or network. Output goes to $CARGO_TARGET_DIR/classes
(default .bench_build/classes); the compile is skipped while the
sources are unchanged.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def out_dir():
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    return out


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    fail("no Spark distribution found (set SPARK_HOME)")


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(base):
            fail(f"missing source tree {os.path.relpath(base, ROOT)}; run from the repository root")
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(out, jars):
    """Compile into out/classes unless the sources are unchanged since the
    last build; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out, "classes.sha256")
    classes = os.path.join(out, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", classes, "-cp", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


if __name__ == "__main__":
    build(out_dir(), spark_jars())
