#!/usr/bin/env python3
"""Run one benchmark workload and print its result JSON as the last line.

    python3 perfbench/run.py --workload dns_csv --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run compiles the checkout's
main sources together with the benchmark (sbt, offline) into
perfbench/target; later runs reuse that build while the sources are
unchanged. Inputs are generated from --seed into perfbench/.data, scratch
output goes to a temporary directory under perfbench/.work that is removed
on exit.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("dns_csv", "docs_neardup")
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "perfbench.stamp"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    want = stamp()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == want:
        return
    print("perfbench: compiling the checkout's sources", file=sys.stderr)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/products"]
    try:
        rc = subprocess.run(cmd, cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                            timeout=BUILD_TIMEOUT_S, start_new_session=True).returncode
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    STAMP.write_text(want)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no graft sources beside the benchmark (src/main/scala/graft)")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (Path(spark_home) / "jars").is_dir():
        fail("SPARK_HOME must name a Spark installation with a jars/ directory")
    build()

    (BENCH / ".work").mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=BENCH / ".work"))
    # A fixed 2 GB heap (-Xms = -Xmx), the floor of the test suite's sizing:
    # the heap in use stays under 0.5 GB, and with a 7 GB heap every run first
    # touched a fresh 2 GB young generation, which made run times bimodal.
    mem = "2g"
    cmd = ["java", f"-Xms{mem}", f"-Xmx{mem}", "-XX:+UseParallelGC",
           *[x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{CLASSES}{os.pathsep}{Path(spark_home) / 'jars' / '*'}",
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--data", str(BENCH / ".data"), "--work", str(work),
           "--cores", str(len(os.sched_getaffinity(0)))]
    (work / "tmp").mkdir()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
