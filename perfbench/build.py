#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into one class directory, using
the Scala compiler that ships in Spark's jar directory. The build is
skipped when a stamp of every source file still matches.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parents[1]
    if not home:
        raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {jars}")
    return jars


def sources() -> list:
    graft = ROOT / "src" / "main" / "scala"
    if not graft.is_dir():
        raise SystemExit(f"build: graft sources not found at {graft}")
    files = sorted(graft.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    if not files:
        raise SystemExit("build: no sources")
    return files


def build() -> Path:
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text() == stamp:
        return CLASSES
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build())
