#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the benchmark.

The program's sources (src/main/scala) and the benchmark's own sources
(perfbench/src) are compiled together with the Scala compiler that ships
in the Spark distribution, against the Spark jars; no sbt, no network.
Classes land in .bench_build/classes-<hash>, keyed by a hash of every
input, so an unchanged checkout is built once.

    python3 perfbench/build.py     # build, print the classes directory

The Spark distribution is SPARK_HOME, or else the first spark-submit on
the PATH whose distribution ships the Scala compiler.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_DIR = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SRC = ROOT / "perfbench" / "src"
BUILD_TIMEOUT_S = 800


class CompileFailure(Exception):
    pass


def spark_jars() -> Path:
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if submit.is_file():
            homes.append(submit.resolve().parent.parent)
    for home in homes:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home / "jars"
    raise CompileFailure("no Spark distribution with a Scala compiler found; set SPARK_HOME")


def sources() -> list:
    program = sorted(PROGRAM_SRC.rglob("*.scala")) if PROGRAM_SRC.is_dir() else []
    if not program:
        raise CompileFailure(f"no program sources under {PROGRAM_SRC}")
    bench = sorted(BENCH_SRC.rglob("*.scala"))
    if not bench:
        raise CompileFailure(f"no benchmark sources under {BENCH_SRC}")
    return program + bench


def resources() -> list:
    if not PROGRAM_RESOURCES.is_dir():
        return []
    return sorted(p for p in PROGRAM_RESOURCES.rglob("*") if p.is_file())


def input_hash(files: list, jars: Path) -> str:
    h = hashlib.sha256()
    for f in files + [Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(" ".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    return h.hexdigest()[:16]


def ensure_built() -> Path:
    """Return the classes directory for the current sources, building it
    first if needed."""
    jars = spark_jars()
    srcs = sources()
    res = resources()
    out = BUILD_DIR / f"classes-{input_hash(srcs + res, jars)}"
    if (out / "_BUILT").exists():
        return out
    compiler = [
        next(iter(glob.glob(str(jars / f"scala-{name}-*.jar"))), None)
        for name in ("compiler", "library", "reflect")
    ]
    if None in compiler:
        raise CompileFailure(f"no Scala compiler jars in {jars}")
    BUILD_DIR.mkdir(exist_ok=True)
    tmp = BUILD_DIR / f"building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    try:
        argfile = tmp / "sources.txt"
        argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
        classes = tmp / "classes"
        classes.mkdir()
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
               "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
               "-nowarn", "-d", str(classes),
               "-classpath", str(jars / "*"), f"@{argfile}"]
        print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise CompileFailure(f"compile exceeded {BUILD_TIMEOUT_S} s")
        if r.returncode != 0:
            tail = r.stdout.decode(errors="replace")[-4000:]
            raise CompileFailure(f"compile failed (exit {r.returncode}):\n{tail}")
        for f in res:
            dst = classes / f.relative_to(PROGRAM_RESOURCES)
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(f, dst)
        (classes / "_BUILT").write_text("ok\n")
        for old in BUILD_DIR.glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
        classes.rename(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(ensure_built())
    except CompileFailure as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
