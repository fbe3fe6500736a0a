#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (src/main/scala) together with the benchmark's own
sources (perfbench/src) into .bench_build/classes with the Scala
compiler that ships in the Spark distribution. A stamp of the source
contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root or anywhere)
Prints the runtime classpath on success: the classes, the engine's
resources (data-source registrations) and Spark's jars.
"""
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars bundled with the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = Path(home) / "jars"
    else:
        spec = importlib.util.find_spec("pyspark")
        if spec is None:
            sys.exit("build: set SPARK_HOME or install pyspark")
        jars = Path(spec.origin).parent / "jars"
    if not jars.is_dir():
        sys.exit(f"build: no Spark jars under {jars}")
    return jars


def sources() -> list:
    for d in SOURCE_DIRS:
        if not d.is_dir():
            sys.exit(f"build: source directory {d} is missing")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for p in files + sorted(RESOURCES.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build() -> Path:
    files = sources()
    classes = BUILD / "classes"
    stamp_file = BUILD / "stamp"
    want = stamp(files)
    if classes.is_dir() and stamp_file.is_file() \
            and stamp_file.read_text() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    args = BUILD / "sources.txt"
    args.write_text("\n".join(str(p) for p in files) + "\n")
    cp = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, f"@{args}"]
    res = subprocess.run(cmd, cwd=ROOT)
    if res.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        sys.exit(f"build: scalac exited with {res.returncode}")
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    print(os.pathsep.join([str(build()), str(RESOURCES),
                           str(spark_jars() / "*")]))
