#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the program's sources (`src/main/scala`) together with the
benchmark harness (`perfbench/src`) into one class directory with the
Scala compiler that ships among the Spark jars, so no sbt, network or
dependency cache is involved. A content hash of every input is kept in
the class directory; an unchanged tree is not recompiled.

    python3 perfbench/build.py            # builds into $CARGO_TARGET_DIR or .bench_build
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"


class BuildError(Exception):
    pass


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> list:
    """The jars of the Spark installation at $SPARK_HOME, else of the first
    spark-submit on PATH that sits in a Spark installation."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [(Path(d) / "spark-submit").resolve().parent.parent
              for d in os.environ.get("PATH", "").split(os.pathsep)
              if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        jars = sorted((home / "jars").glob("*.jar"))
        if any(j.name.startswith("spark-sql_") for j in jars):
            return jars
    raise BuildError("no Spark installation found (set SPARK_HOME)")


def sources() -> list:
    if not (PROGRAM_SRC / "graft").is_dir():
        raise BuildError(f"program sources missing: {PROGRAM_SRC / 'graft'}")
    if not BENCH_SRC.is_dir():
        raise BuildError(f"benchmark sources missing: {BENCH_SRC}")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def build() -> Path:
    """Returns the class directory, compiling only when an input changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    digest = h.hexdigest()
    classes = build_dir() / "classes"
    stamp = classes / ".inputs.sha256"
    if stamp.is_file() and stamp.read_text() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", str(classes), "-classpath", cp,
           *map(str, srcs)]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    stamp.write_text(digest)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
