#!/usr/bin/env python3
"""Store-path benchmark entry point.

    python3 perfbench/run.py --workload build|ingest|serve --seed N \
        --seconds S --trace 0|1 [--rows N] [--inject none|wrong_answer|throw]

Run from the repository root. Builds the benchmark (its sbt project in this
directory compiles ../src/main/scala with it) when its sources changed, then
runs one workload in one JVM. The last stdout line is the result JSON; the
lines before it list every metric by name with its unit.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB = os.path.join(ROOT, "src", "main", "scala", "graft")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "perfbench.classpath")
MAIN = "perfbench.StorePathBench"
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (the library's build.sbt
# sets the same list for its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return files


def build():
    """Compile with sbt unless the recorded classpath is newer than every source."""
    if os.path.exists(CLASSPATH_FILE):
        stamp = os.path.getmtime(CLASSPATH_FILE)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        log(f"sbt failed with exit code {proc.returncode}")
        sys.exit(2)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    log(f"built in {time.time() - t0:.0f} s")


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def heap():
    """A quarter of the machine's memory, 2–4 GiB: the generated inputs are small."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // (4 * 1048576)))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("--workload", required=True, choices=["build", "ingest", "serve"])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    p.add_argument("--rows", type=int)
    p.add_argument("--inject", choices=["none", "wrong_answer", "throw"], default="none")
    a = p.parse_args()

    if not os.path.isfile(os.path.join(LIB, "sources", "Workflow.scala")):
        log(f"library sources not found under {LIB}; run from a full checkout")
        sys.exit(2)
    build()
    with open(CLASSPATH_FILE) as f:
        classpath = f.read().strip()

    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # C1 only: a run is too short for C2 to settle. With C2 the first build
    # in a JVM took 30-60 s against 15 s warm, and its compile threads kept
    # competing with the measured GETs for the four cores. C1 alone gets a
    # 48 MB code cache by default, which Spark's generated code fills.
    # Temporary files and JVM perf data stay inside the run's work directory.
    cmd = ["java", f"-Xmx{heap()}", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, MAIN, "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--inject", a.inject]
    if a.rows:
        cmd += ["--rows", str(a.rows)]
    env = dict(os.environ, PERFBENCH_COMMIT=commit())
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(3)
    finally:
        spans = os.path.join(work, f"spans-{a.workload}.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            shutil.copy(spans, os.path.join(HERE, "out", f"spans-{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        log(f"benchmark exited with code {proc.returncode}")
        sys.exit(proc.returncode or 4)
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
