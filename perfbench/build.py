#!/usr/bin/env python3
"""Build the benchmark: compile graft's main sources and the benchmark's
own sources (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into .bench_build/classes under the repo root.

A stamp of every source file's path and content makes a rebuild happen
only when a source changed. Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    one whose bin/spark-submit is on PATH (pip shims have no jars beside them)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def scala_files():
    files = []
    for d in SOURCES:
        if not d.is_dir():
            raise SystemExit(f"build: source directory {d.relative_to(ROOT)} is missing")
        files += sorted(d.rglob("*.scala"))
    return files


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(str(sorted(p.name for p in jars.glob("scala-*.jar"))).encode())
    return h.hexdigest()


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def build(log=sys.stderr):
    """Compile if needed; returns the build's wall seconds (0 when fresh)."""
    jars = spark_jars()
    files = scala_files()
    want = stamp(files, jars)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == want:
        return 0.0
    compiler = sorted(jars.glob("scala-compiler-*.jar")) + sorted(jars.glob("scala-library-*.jar")) \
        + sorted(jars.glob("scala-reflect-*.jar"))
    if len(compiler) < 3:
        raise SystemExit(f"build: scala compiler jars not found in {jars}")
    t0 = time.time()
    tmp = BUILD / f"classes.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / f"sources{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*", "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        log.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(want)
    return time.time() - t0


if __name__ == "__main__":
    print(f"built in {build():.1f} s -> {CLASSES}")
