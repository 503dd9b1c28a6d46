#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/scala) from source with the Scala compiler that ships
with Spark, into .bench_build/perfbench/classes.

Usage: python3 perfbench/build.py   (from the repository root)

The build is skipped when no source file changed since the last one.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = Path(".bench_build") / "perfbench"
SOURCE_DIRS = [Path("src") / "main" / "scala", Path("perfbench") / "scala"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise RuntimeError("Spark not found: set SPARK_HOME")
        home = Path(submit).resolve().parent.parent
    jars = Path(home) / "jars"
    if not jars.is_dir():
        raise RuntimeError(f"no Spark jars under {home}")
    return jars


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        if not (root / d).is_dir():
            raise RuntimeError(f"missing source directory {d}")
        found += sorted((root / d).rglob("*.scala"))
    return found


def build(root=Path(".")):
    """Compile if needed; return the classpath to run the benchmark with."""
    jars = spark_jars()
    srcs = sources(root)
    digest = hashlib.sha256(str(jars).encode())
    for f in srcs:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    stamp = root / BUILD_DIR / "classes.sha256"
    classes = root / BUILD_DIR / "classes"
    classpath = f"{classes}{os.pathsep}{jars / '*'}"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = [str(next(jars.glob(f"scala-{name}-2.13.*.jar")))
                for name in ("compiler", "library", "reflect")]
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
         "-d", str(classes)] + [str(f) for f in srcs],
        check=True, stdout=sys.stderr)
    stamp.write_text(digest.hexdigest())
    return classpath


if __name__ == "__main__":
    print(build())
