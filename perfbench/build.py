#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's main sources (``src/main/scala`` of the checkout)
together with the benchmark's own sources (``perfbench/src``) and checker
self-tests (``perfbench/tests``) in one scalac pass, against the Spark jars that
``build.sbt`` names as ``unmanagedBase`` (``$SPARK_JARS`` overrides), which
also ship the Scala 2.13 compiler. The classes land in ``$CARGO_TARGET_DIR/perfbench`` (default
``.bench_build/perfbench``) and are reused while a hash of every source file
is unchanged.

    python3 perfbench/build.py      # build if stale, print the class dir
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
MAIN_SRC = ROOT / "src" / "main" / "scala"


def spark_jars() -> Path:
    if "SPARK_JARS" in os.environ:
        return Path(os.environ["SPARK_JARS"])
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise SystemExit("perfbench build: set SPARK_JARS (no unmanagedBase in build.sbt)")
    return Path(m.group(1))


def build_root() -> Path:
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def sources() -> list:
    dirs = [MAIN_SRC, BENCH_DIR / "src", BENCH_DIR / "tests"]
    missing = [str(d) for d in dirs if not d.is_dir()]
    if missing:
        raise SystemExit(f"perfbench build: source directory missing: {missing}")
    files = sorted(p for d in dirs for p in d.rglob("*.scala"))
    if not any(MAIN_SRC in p.parents for p in files):
        raise SystemExit(f"perfbench build: no engine sources under {MAIN_SRC}")
    return files


def classpath() -> str:
    jars = spark_jars()
    if not (jars / "scala-compiler-2.13.17.jar").is_file():
        raise SystemExit(f"perfbench build: no Scala compiler in {jars}")
    return str(jars / "*")


def ensure_built() -> Path:
    """Return the class directory, compiling first when any source changed."""
    out = build_root() / "perfbench"
    out.mkdir(parents=True, exist_ok=True)
    with open(out / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(out)


def _build(out: Path) -> Path:
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = out / "classes"
    stamp_file = out / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"perfbench build: compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={out}",
           "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", classpath()] + [str(p) for p in srcs]
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench build: scalac exited {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(ensure_built())
