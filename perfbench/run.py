#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first call compiles the library
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
shipped in Spark's jars into .bench_build/perfbench.jar; later calls reuse
it while the sources are unchanged. Each workload then runs in one JVM with
one local Spark session of at most 4 task slots. The JVM prints a report
and, as its last stdout line, one JSON result;
`--workload all` runs every workload and ends with one JSON result whose
metric names carry the workload as a prefix.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("flagship", "knn_batch", "store_mixed")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]
JVM = ["-Xms3g", "-Xmx3g", "-Xss16m", "-XX:+UseParallelGC",
       "-XX:ParallelGCThreads=2", "-XX:-UsePerfData"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = str(Path(exe).resolve().parent.parent)
    if not home:
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        fail(f"no scala-compiler jar in {jars}")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not (main / "graft").is_dir():
        fail(f"library sources not found under {main}: run from a full checkout")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build(jars):
    """Compiles the library and the benchmark into a jar unless the sources
    are unchanged. Returns the jar."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    digest = h.hexdigest()
    jar = BUILD / "perfbench.jar"
    stamp = BUILD / "perfbench.sha256"
    if jar.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return jar
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cp = f"{jars}/*"
    code = run_child(["java", "-Xmx2g", "-Xss16m", f"-Djava.io.tmpdir={BUILD}", "-cp", cp,
                      "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp,
                      f"@{argfile}"], BUILD_TIMEOUT_S, stdout=sys.stderr)
    if code != 0:
        fail(f"compilation failed (exit {code})", 1)
    with zipfile.ZipFile(BUILD / "perfbench.jar.tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    (BUILD / "perfbench.jar.tmp").replace(jar)
    shutil.rmtree(tmp)
    stamp.write_text(digest)
    return jar


def run_child(cmd, timeout, stdout=None):
    """Runs a child process to completion; kills it on timeout or signal."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=stdout, stdin=subprocess.DEVNULL)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {cmd[-1]} timed out after {timeout} s", file=sys.stderr)
        return 124
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def java_cmd(jar, jars, main, args, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java"] + JVM + ADD_OPENS +
            [f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
             f"-Djava.io.tmpdir={tmp}", "-cp", f"{jar}{os.pathsep}{jars}/*", main] + args)


def run_workload(jar, jars, name, a, capture):
    work = BUILD / "work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    args = ["--workload", name, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(BUILD / "traces")]
    try:
        cmd = java_cmd(jar, jars, "perfbench.Main", args, work)
        if not capture:
            return run_child(cmd, RUN_TIMEOUT_S), None
        out = BUILD / f"out-{name}-{os.getpid()}.txt"
        with open(out, "w") as f:
            code = run_child(cmd, RUN_TIMEOUT_S, stdout=f)
        text = out.read_text()
        out.unlink()
        sys.stdout.write("".join(l for l in text.splitlines(True)[:-1]))
        return code, text.splitlines()[-1] if text.strip() else None
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's self-tests")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not a.selftest and a.seconds < 1:
        ap.error("--seconds must be at least 1")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    BUILD.mkdir(exist_ok=True)
    jar = build(jars)
    sys.stdout.flush()
    if a.selftest:
        work = BUILD / "work" / f"selftest-{os.getpid()}"
        try:
            code = run_child(java_cmd(jar, jars, "perfbench.SelfTest", [str(work)], work), 900)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)
    if a.workload != "all":
        code, _ = run_workload(jar, jars, a.workload, a, capture=False)
        sys.exit(code)

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        code, last = run_workload(jar, jars, name, a, capture=True)
        if code != 0 or last is None:
            fail(f"{name} exited with {code}", code or 1)
        r = json.loads(last)
        print(last)
        combined["correct"] &= r["correct"]
        combined["attempted"] += r["attempted"]
        combined["failed"] += r["failed"]
        for k, v in r["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))


if __name__ == "__main__":
    main()
