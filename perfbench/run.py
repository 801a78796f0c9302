#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload corpus_store --seed 1 --seconds 20 --trace 0

The first call in a checkout compiles the engine together with the
benchmark (sbt, offline) into .bench_build/; later calls reuse that build
until a source file changes. The workload itself runs in one JVM
(perfbench.Main), whose last stdout line is the JSON result.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build"
# JVM scratch files (sbt's and the run's) stay inside the checkout.
TMP = BUILD / "tmp"
WORKLOADS = ("nightly_increment", "corpus_store")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 needs these when a SparkSession starts outside
# spark-submit (the engine's own build passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout or interruption
    kill the whole group and wait for it, so no process outlives us."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
        return proc.returncode, out, err
    except subprocess.TimeoutExpired:
        return None, None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def source_files():
    roots = [ENGINE_SRC, BENCH / "src" / "main",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    files = []
    for r in roots:
        files += [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile once per source state; return the runtime classpath."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    want = stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    TMP.mkdir(parents=True, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -XX:-UsePerfData -Djava.io.tmpdir={TMP}").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    code, out, err = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                               stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True)
    if code is None:
        fail("build timed out", 3)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail("build failed", 3)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(want)
    return lines[-1]


def git_sha():
    """The checked-out commit, when the checkout is a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    # A terminated launcher unwinds, so run_group stops its children.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not (ENGINE_SRC / "graft").is_dir() or not (BENCH / "build.sbt").is_file():
        fail("run from the root of a graft checkout (engine sources not found)")
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    cp = build()
    TMP.mkdir(parents=True, exist_ok=True)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [str(java), f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={TMP}",
           f"-Dperfbench.git={git_sha()}",
           f"-Dperfbench.source={(BUILD / 'stamp.txt').read_text()}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    env = dict(os.environ)
    # Spark's scratch space stays inside the checkout.
    env["SPARK_LOCAL_DIRS"] = str(BUILD / "spark-local")
    code, _, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env)
    if code is None:
        fail("run timed out", 3)
    sys.exit(code)


if __name__ == "__main__":
    main()
