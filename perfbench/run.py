#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage, from the repository root:

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 10 --trace 0

Builds the benchmark (its own sbt project in this directory, compiled with
the engine's sources) when the sources changed since the last build, then
runs `perfbench.Main` with the heap the tier-1 formula takes from
MemTotal: first, for an untraced run, SETUP_RUNS set-ups alone, each in a
fresh JVM, then the measured run, whose `setup_s` is the median of all
their set-up times (the lower median, for two). See README.md for workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = "/root/testdata/sf0.1"
BUILD = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
RUN_TIMEOUT_S = 170
SETUP_RUNS = 1
SETUP_TIMEOUT_S = 40
BUILD_TIMEOUT_S = 800
WORKLOADS = ("analytic", "iterative", "neardup", "ingest")

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


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def heap():
    """The tier-1 formula: half of MemTotal in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def build(src_digest):
    """Compile when the sources changed; return the runtime classpath."""
    stamp = os.path.join(BUILD, "bench-classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("digest") == src_digest:
            return s["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": src_digest, "classpath": lines[-1]}, fh)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no engine sources under {ROOT}/src/main/scala: run from a full checkout")
    if not os.path.isdir(DATA):
        fail(f"test data {DATA} is missing")
    src_digest = digest(source_files())
    classpath = build(src_digest)
    # The commit when run from a git checkout; the source digest always.
    try:
        git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        commit = git.stdout.strip()[:12] + "+" if git.returncode == 0 else ""
    except OSError:
        commit = ""
    source = commit + src_digest[:16]

    # Each JVM gets its own scratch directory (JVM tmp, Spark local dirs,
    # ingest tables), removed when it ends; trace files are kept.
    def java(run_dir, timeout, *extra):
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(os.path.join(run_dir, "tmp"))
        cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", a.trace, "--data", DATA, "--work", run_dir,
                  "--fingerprints", os.path.join(HERE, "fingerprints.json"),
                  "--source", source, *extra])
        try:
            return subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                                  text=True, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"{a.workload} did not finish within {timeout} s")
        finally:
            for f in os.listdir(run_dir):
                if f.startswith("trace-"):
                    os.replace(os.path.join(run_dir, f), os.path.join(WORK, f))
            shutil.rmtree(run_dir, ignore_errors=True)

    # Set-ups alone, each in a fresh JVM as a submitted job pays it; a traced
    # run reports no setup_s.
    started = time.monotonic()
    setups = []
    for i in range(SETUP_RUNS if a.trace == "0" else 0):
        p = java(os.path.join(WORK, f"run-{os.getpid()}-setup{i}"), SETUP_TIMEOUT_S, "--setup-only", "1")
        try:
            setups.append(json.loads(p.stdout.splitlines()[-1])["setup_s"])
        except (IndexError, ValueError, KeyError, TypeError):
            fail(f"{a.workload} set-up exited {p.returncode} without a time")
    p = java(os.path.join(WORK, f"run-{os.getpid()}"),
             RUN_TIMEOUT_S - int(time.monotonic() - started),
             "--setups", ",".join(repr(x) for x in setups))
    lines = p.stdout.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(p.stdout[-4000:])
        # Exit code 3 marks an invalid ingest run (see README.md).
        fail(f"{a.workload} exited {p.returncode} without a result", code=3 if p.returncode == 3 else 2)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.exit(0 if p.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
