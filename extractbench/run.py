#!/usr/bin/env python3
"""Extraction benchmark entry point.

    python3 extractbench/run.py --workload fresh|incremental \
        --seed N --seconds S --trace 0|1 [--scale full|tiny]

Run from anywhere inside a checkout of the repository. The first run builds
the program and the benchmark from source with sbt (the benchmark's own
build in this directory depends on the repository's root build); later runs
reuse that build while the sources are unchanged. Build outputs, cached
inputs, run outputs and traces all live under `.bench_build/` at the root
of the checkout. The last line on stdout is the result as one JSON object.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "extractbench"
LAUNCHER = WORK / "launcher.txt"
STAMP = WORK / "launcher.sha256"
# JVM class data sharing archive of the classes a run loads: dumped by the
# first run after a build, mapped by every later run to cut JVM start-up
ARCHIVE = WORK / "classes.jsa"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# a fixed heap: no resizing between runs
HEAP = ["-Xms3g", "-Xmx3g"]


def log(msg):
    print(f"[extractbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += [p for p in d.glob("*") if p.is_file()]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += [p for p in d.rglob("*") if p.is_file()]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the launcher matches the current sources."""
    fp = fingerprint()
    if LAUNCHER.exists() and STAMP.exists() and STAMP.read_text() == fp:
        return
    log("building the program and the benchmark with sbt")
    WORK.mkdir(parents=True, exist_ok=True)
    LAUNCHER.unlink(missing_ok=True)
    ARCHIVE.unlink(missing_ok=True)
    # inputs come from the program's own generator, which may have changed
    shutil.rmtree(WORK / "inputs", ignore_errors=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dextractbench.launcher={LAUNCHER}", "writeLauncher"]
    # the build resolves only from local caches
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    done = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if done.returncode != 0 or not LAUNCHER.exists():
        sys.exit(f"extractbench: build failed (sbt exit {done.returncode})")
    STAMP.write_text(fp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["fresh", "incremental"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--scale", default="full", choices=["full", "tiny"])
    a = ap.parse_args()

    needed = [ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft" / "ExtractMain.scala"]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.exists()]
    if missing:
        sys.exit(f"extractbench: not a checkout of the repository: missing {', '.join(missing)}")

    build()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    jvm = LAUNCHER.read_text().splitlines()
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    dump = ARCHIVE.with_suffix(".tmp")
    cds = (f"-XX:SharedArchiveFile={ARCHIVE}" if ARCHIVE.exists()
           else f"-XX:ArchiveClassesAtExit={dump}")
    cmd = [java, *HEAP, cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"] + jvm + [
        "extractbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--scale", a.scale,
        "--work", str(WORK)]
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
               SPARK_GRAFT_SCRATCH_DIR=str(tmp / "scratch"))
    try:
        done = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"extractbench: run exceeded {RUN_TIMEOUT_S} s")
    lines = done.stdout.strip().splitlines()
    if done.returncode != 0 or not lines:
        sys.exit(f"extractbench: benchmark exited {done.returncode}")
    if dump.exists():
        dump.replace(ARCHIVE)
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        sys.exit("extractbench: malformed result line")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
