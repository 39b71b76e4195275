#!/usr/bin/env python3
"""Benchmark command: one workload, one JVM, one JSON result line.

    python3 perfbench/run.py --workload pipeline_short --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --self-test               # checker self-tests
    python3 perfbench/run.py --regen-fingerprints      # rewrite README fingerprints

Run from the root of a checkout. The first call compiles the engine and the
benchmark (see build.py); later calls reuse the classes. Everything the run
writes stays under the build directory of the checkout and is removed at
exit. The last stdout line is the JSON result; the exit code is non-zero
when the build, the input fingerprint or the run fails.
"""
import argparse
import os
import signal
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

README = build.BENCH_DIR / "README.md"
FP_BEGIN = "<!-- fingerprints:begin -->"
FP_END = "<!-- fingerprints:end -->"
FP_SEEDS = (0, 31)
JVM_TIMEOUT_S = 170

# build.sbt's module opens: Spark 4 on JDK 17 outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java_cmd(classes, main, args, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={build.BENCH_DIR / 'log4j2.properties'}"]
            + ADD_OPENS + ["-cp", f"{classes}{os.pathsep}{build.classpath()}", main] + args)


def recorded_fingerprints():
    text = README.read_text(encoding="utf-8")
    block = text.split(FP_BEGIN, 1)[1].split(FP_END, 1)[0]
    out = {}
    for line in block.splitlines():
        m = re.match(r"^\|\s*(\w+)\s*\|\s*(\d+)\s*\|\s*(\d+)\s*\|\s*(\d+)\s*\|\s*([0-9a-f]+)\s*\|$", line)
        if m:
            out[(m.group(1), int(m.group(2)))] = f"{m.group(3)} {m.group(4)} {m.group(5)}"
    return out


def regen_fingerprints(classes, work):
    lo, hi = FP_SEEDS
    r = subprocess.run(java_cmd(classes, "perfbench.Main",
                                ["--fingerprints", str(lo), str(hi)], work),
                       capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        sys.stderr.write(r.stderr)
        raise SystemExit("perfbench: fingerprint generation failed")
    rows = ["| workload | seed | rows | chars | hash |", "|---|---:|---:|---:|---|"]
    for line in r.stdout.splitlines():
        w, s, n, c, h = line.split()
        rows.append(f"| {w} | {s} | {n} | {c} | {h} |")
    text = README.read_text(encoding="utf-8")
    head, rest = text.split(FP_BEGIN, 1)
    tail = rest.split(FP_END, 1)[1]
    README.write_text(head + FP_BEGIN + "\n" + "\n".join(rows) + "\n" + FP_END + tail,
                      encoding="utf-8")
    print(f"perfbench: recorded {len(rows) - 2} fingerprints in {README}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--regen-fingerprints", action="store_true")
    a = ap.parse_args()

    classes = build.ensure_built()
    work = build.build_root() / "work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if a.self_test:
            return subprocess.run(java_cmd(classes, "perfbench.ChecksSelfTest", [], work)).returncode
        if a.regen_fingerprints:
            regen_fingerprints(classes, work)
            return 0
        if a.workload is None or a.seed is None or a.seconds is None:
            ap.error("--workload, --seed and --seconds are required")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--work", str(work),
                "--t0-ms", str(int(time.time() * 1000))]
        expected = recorded_fingerprints().get((a.workload, a.seed))
        if expected:
            args += ["--expect-fp", expected]
        else:
            print(f"perfbench: no recorded fingerprint for {a.workload} seed {a.seed}", file=sys.stderr)
        proc = subprocess.Popen(java_cmd(classes, "perfbench.Main", args, work))

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            raise SystemExit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
            return 124
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
