#!/usr/bin/env python3
"""The benchmark's build: the program's main sources (src/main/scala) and the
harness (perfbench/src/main/scala), compiled together by scalac against the
Spark jars the repo's own build uses (/opt/spark/jars, which also holds the
Scala 2.13 compiler). It runs the compiler directly, not through sbt, so it
needs no dependency resolution and reads nothing from the home directory.

    python3 perfbench/build.py     # builds if needed, prints the classpath

Run it from anywhere; it works on the checkout it sits in. The classes go to
.bench_build/perfbench/classes and are reused until a source file changes.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
SPARK_JARS = Path("/opt/spark/jars")
SCALA = "2.13.17"
SOURCE_DIRS = (ROOT / "src" / "main" / "scala", BENCH / "src" / "main" / "scala")
BUILD_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def sources():
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def source_hash():
    h = hashlib.sha256()
    for p in [Path(__file__).resolve(), *sources()]:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def spark_jars():
    return [str(p) for p in sorted(SPARK_JARS.glob("*.jar"))]


def build():
    """Compile the program and the harness if a source changed since the last
    build. Returns (runtime classpath, source hash, whether a build ran);
    raises BuildError when the sources or the compiler are missing or the
    compile fails."""
    if not all(d.is_dir() for d in SOURCE_DIRS):
        raise BuildError(f"the sources are missing under {ROOT}")
    compiler = [SPARK_JARS / f"scala-{m}-{SCALA}.jar" for m in ("compiler", "library", "reflect")]
    missing = [str(j) for j in compiler if not j.is_file()]
    if missing:
        raise BuildError(f"the Scala compiler is missing: {', '.join(missing)}")
    stamp, classes = source_hash(), BUILD / "classes"
    stamp_file = BUILD / "stamp"
    runtime = os.pathsep.join([str(classes), *spark_jars()])
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return runtime, stamp, False

    fresh, tmp = BUILD / "classes.new", BUILD / "tmp"
    for d in (fresh, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    stamp_file.unlink(missing_ok=True)
    print("[perfbench] building the program and the harness with scalac", file=sys.stderr, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(map(str, compiler)), "scala.tools.nsc.Main",
           "-encoding", "UTF-8", "-classpath", os.pathsep.join(spark_jars()), "-d", str(fresh),
           *map(str, sources())]
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, capture_output=True,
                           encoding="utf-8", errors="replace", timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"scalac did not finish in {BUILD_TIMEOUT_S} s") from None
    (BUILD / "build.log").write_text(r.stdout + r.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed; see {BUILD / 'build.log'}")
    shutil.rmtree(classes, ignore_errors=True)
    fresh.rename(classes)
    stamp_file.write_text(stamp)
    return runtime, stamp, True


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
