#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from source,
then runs one workload in a fresh JVM and prints its JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds with sbt into
.bench_build/ (about a minute); later runs reuse the build until a
source file changes. `--record-golden 1` (at seed 1) rewrites the
workload's golden file from the run's outputs.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("study_export_wide", "query_suite")

# The JVM policy every run uses: a fixed heap and the G1 flags of the
# engine's `Compile / run` scope, plus the module opens Spark needs on
# JDK 17.
HEAP = "3g"
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:G1HeapRegionSize=16m",
             "-XX:+AlwaysPreTouch", "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        inputs += sorted(p for p in base.rglob("*") if p.is_file())
    for p in inputs:
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles with sbt (offline) unless the last build saw the same
    sources; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no engine sources under src/main/scala; run from the root of a checkout")
    cp_file = BUILD / "sbt-target" / "classpath.txt"
    stamp_file = BUILD / "stamp"
    stamp = source_stamp()
    if not (cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp):
        env = dict(os.environ, COURSIER_MODE="offline")
        # sbt's scratch files (its server socket directory) stay in the checkout
        sbt_tmp = BUILD / "sbt-tmp"
        sbt_tmp.mkdir(parents=True, exist_ok=True)
        opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                f"-Djava.io.tmpdir={sbt_tmp}", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        r = subprocess.run(["sbt", "--batch", "writeClasspath"], cwd=HERE, env=env,
                           stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        if r.returncode != 0 or not cp_file.exists():
            fail("build failed")
        stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    # a fresh java.io.tmpdir per run: the engine's durable artifacts
    # (graft-* roots) start cold, are built during set-up, and go at exit
    run_dir = BUILD / "runs" / f"{a.workload}-{os.getpid()}-{time.time_ns()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    (BUILD / "traces").mkdir(exist_ok=True)
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
           "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", str(run_dir / "work"),
           "--golden", str(HERE / "golden" / f"{a.workload}.tsv"),
           "--trace-out", str(BUILD / "traces" / f"{a.workload}-{a.seed}.jsonl"),
           "--record-golden", str(a.record_golden)]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"run failed with exit code {proc.returncode}")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
