#!/usr/bin/env python3
"""Build file of the benchmark. Compiles, with the Scala compiler that ships in
the Spark distribution (`$SPARK_HOME/jars`, default `/opt/spark/jars`):

  1. the program's sources (`src/main/scala`) into `.bench_build/lib`;
  2. the benchmark's own sources (`kgbench/src`) against them into
     `.bench_build/bench`.

Each step is skipped when a stamp of its inputs' paths and contents is
unchanged, so editing the benchmark does not recompile the program.

Usage: python3 kgbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
LIB_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "kgbench" / "src"
SCALA_VERSION = "2.13.17"
BUILD_TIMEOUT_S = 600


def spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    found = sorted(jars.glob("*.jar"))
    if not found:
        sys.exit(f"build: no Spark jars under {jars}")
    return jars, found


def sources(d):
    if not d.is_dir():
        sys.exit(f"build: source directory {d} is missing")
    return sorted(d.rglob("*.scala"))


def stamp(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def compile_step(name, files, classpath, salt=""):
    """Compile `files` into `.bench_build/<name>` unless its stamp matches;
    return (classes dir, stamp)."""
    out = OUT / name
    digest = stamp(files, salt)
    stamp_file = OUT / f"{name}.stamp"
    if out.is_dir() and stamp_file.exists() and stamp_file.read_text() == digest:
        return out, digest
    jars_dir, _ = spark_jars()
    staging = OUT / f"{name}.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    compiler = os.pathsep.join(
        str(jars_dir / f"scala-{m}-{SCALA_VERSION}.jar") for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn", "-classpath", os.pathsep.join(map(str, classpath)),
           "-d", str(staging)] + [str(p) for p in files]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        sys.exit(f"build: scalac failed on {name} with code {proc.returncode}")
    shutil.rmtree(out, ignore_errors=True)
    staging.rename(out)
    stamp_file.write_text(digest)
    return out, digest


def ensure():
    """Compile what is out of date; return the class path entries of the
    benchmark (its classes, then the program's)."""
    lib_files, bench_files = sources(LIB_SRC), sources(BENCH_SRC)
    _, jars = spark_jars()
    lib, lib_digest = compile_step("lib", lib_files, jars)
    bench, _ = compile_step("bench", bench_files, [lib] + jars, salt=lib_digest)
    return [bench, lib]


if __name__ == "__main__":
    print(os.pathsep.join(map(str, ensure())))
