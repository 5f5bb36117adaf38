#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark program from source with sbt (perfbench/build.sbt loads the
repository's own build unchanged) into .bench_build/; later runs reuse that
build until a source file changes. The benchmark then runs in its own JVM and
its last stdout line, one JSON object, is printed as this script's last line.
Exits non-zero without a result if the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import pathlib
import signal
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build" / "perfbench"
CLASSPATH = BUILD / "classpath.txt"
STAMP = BUILD / "sources.sha1"
WORKLOADS = ("extract_auto_costed", "extract_job_light", "curate_release")
BUILD_TIMEOUT_S = 840
# set-up, warm-up and checks take about 30 s; the last pass may overrun
# the measured time by a pass
SETUP_ALLOWANCE_S = 130
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

# Spark 4 on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    files = [ROOT / "build.sbt", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def sources_digest(files):
    h = hashlib.sha1()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, env=None, stdout=None):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            start_new_session=True, text=True)
    try:
        if stdout is None:
            proc.wait(timeout=timeout)
            return proc, None
        out, _ = proc.communicate(timeout=timeout)
        return proc, out
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala"):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing: no program to build")
    digest = sources_digest(sources())
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    try:
        # sbt's log goes to stderr: stdout carries only the result
        proc, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "writeClasspath"], BENCH, BUILD_TIMEOUT_S, env,
                            stdout=sys.stderr)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s")
    except FileNotFoundError:
        fail("sbt not found on PATH")
    if proc.returncode != 0 or not CLASSPATH.exists():
        fail(f"build failed (sbt exit {proc.returncode})")
    STAMP.write_text(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    build()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    argfile = BUILD / "java.args"
    argfile.write_text("-cp\n" + CLASSPATH.read_text().strip() + "\n")
    # temporary files (snappy's native library among them) stay in the
    # checkout, and no perf-data file goes to /tmp
    tmp = ROOT / ".bench_build" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java, "-Xms1g", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dfile.encoding=UTF-8",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += [f"@{argfile}", "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    timeout = SETUP_ALLOWANCE_S + 4 * a.seconds
    try:
        proc, out = run_child(cmd, ROOT, timeout, env,
                              stdout=subprocess.PIPE)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {timeout} s")
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail(f"last benchmark line is not a result: {lines[-1][:200]}")
    if set(result) != RESULT_KEYS:
        fail(f"result keys {sorted(result)}")
    print(lines[-1])


if __name__ == "__main__":
    main()
