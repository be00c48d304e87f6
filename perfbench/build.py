#!/usr/bin/env python3
"""Compiles graft and the benchmark for perfbench/run.py.

Run from the root of a graft checkout:

    python3 perfbench/build.py

Sources: src/main/scala (graft) plus perfbench/src and perfbench/test.
Compiler and classpath: the Scala 2.13 compiler and the jars that ship in
$SPARK_HOME/jars, or else in the directory build.sbt names as its
unmanagedBase, which is where the sbt build takes them from.
Output: $CARGO_TARGET_DIR/classes (default .bench_build/classes), rebuilt
only when a hash of the sources and the jar list changes.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

BUILD_TIMEOUT_S = 800
BENCH_DIR = Path(__file__).resolve().parent


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars(root):
    if os.environ.get("SPARK_HOME"):
        jar_dir = Path(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = Path(root, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        if not m:
            fail(f"no build.sbt with an unmanagedBase under {root}; run from a graft checkout or set SPARK_HOME")
        jar_dir = Path(m.group(1))
    jars = sorted(jar_dir.glob("*.jar"))
    if not jars:
        fail(f"no jars under {jar_dir} (set SPARK_HOME)")
    return jars


def build_dir(root):
    d = (Path(root) / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    d.mkdir(parents=True, exist_ok=True)
    return d


def sources(root):
    graft = sorted(Path(root, "src", "main", "scala").rglob("*.scala"))
    if not graft:
        fail(f"graft sources not found under {root}/src/main/scala; run from a graft checkout")
    bench = sorted(BENCH_DIR.joinpath("src").glob("*.scala")) + sorted(BENCH_DIR.joinpath("test").glob("*.scala"))
    if not bench:
        fail(f"benchmark sources missing under {BENCH_DIR}")
    return graft + bench


def build(root, out, jars):
    """Returns (classes dir, source hash), compiling unless current."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    digest.update(" ".join(j.name for j in jars).encode())
    stamp = digest.hexdigest()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes, stamp
    stamp_file.unlink(missing_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = [j for j in jars if j.name.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    if len(compiler) < 3:
        fail("the Spark jar directory lacks scala-compiler, scala-library or scala-reflect")
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", os.pathsep.join(map(str, jars)), "@" + str(argfile)]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"compile timed out after {BUILD_TIMEOUT_S}s")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("compile failed")
    stamp_file.write_text(stamp)
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes, stamp


if __name__ == "__main__":
    root = Path.cwd()
    classes, _ = build(root, build_dir(root), spark_jars(root))
    print(classes)
