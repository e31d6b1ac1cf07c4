#!/usr/bin/env python3
"""Ingest benchmark runner.

Run from the repository root:

    python3 ingestbench/run.py --workload backlog_5k --seed 1 --seconds 20 --trace 0

The first run builds the program and the benchmark from source with sbt
(ingestbench/build.sbt compiles the repository's main sources); later runs
reuse the build while no source is newer. Each run starts one fresh JVM
that drains the workload through IngestPipeline.start, checks the tables,
and prints its metrics; the last line of standard output is one JSON
object. The exit code is non-zero when the build or the run fails. A
lost, duplicated, wrong or misrouted message does not stop the run: the
result then reads "correct": false, with the number of such messages in
"failed".
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CLASSPATH_FILE = HERE / "target" / "bench-classpath.txt"
WORK = HERE / "work"
WORKLOADS = ("backlog_5k", "catchup_100k")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit; the same list as the
# repository's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"ingestbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for d in (ROOT / "src" / "main", HERE / "src", HERE / "project"):
        yield from (p for p in d.rglob("*") if p.is_file())
    yield HERE / "build.sbt"
    yield ROOT / "build.sbt"


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout or
    interrupt and wait until it has ended."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def build():
    """Compile with sbt unless an up-to-date build exists; return the
    runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        fail("the program's sources (src/main/scala, build.sbt) are not next to ingestbench/")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    if CLASSPATH_FILE.is_file():
        built = CLASSPATH_FILE.stat().st_mtime
        cp = CLASSPATH_FILE.read_text().strip()
        if all(Path(e).exists() for e in cp.split(os.pathsep)) and \
                all(p.stat().st_mtime < built for p in sources()):
            return cp
    print("ingestbench: building with sbt ...", file=sys.stderr)
    try:
        code, out = run_group(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    sys.stderr.write(out[-4000:])
    lines = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l
             and not l.startswith("[")]
    if code != 0 or not lines:
        fail(f"build failed (sbt exit {code})")
    CLASSPATH_FILE.parent.mkdir(parents=True, exist_ok=True)
    CLASSPATH_FILE.write_text(lines[-1].strip() + "\n")
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    # run length is fixed by the workload (a warm-up and two measured
    # drains), so that two commits always run the same sequence
    ap.add_argument("--seconds", required=True, type=int, help="accepted, not used")
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", f"-Djava.io.tmpdir={WORK / 'tmp'}",
            f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", cp, "ingestbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--trace", a.trace, "--work", str(WORK)])
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                              text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stdout.write(out)
        fail(f"run printed no result (exit {code})")
    sys.stdout.write(out)
    sys.stdout.flush()
    if code != 0:
        sys.exit(code)


if __name__ == "__main__":
    main()
