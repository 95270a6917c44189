#!/usr/bin/env python3
"""Run one workload of the benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (perfbench/build.sbt) into .bench_build/ and
reuses that build while the sources are unchanged. The workload then runs
in one JVM (Spark local[n], n <= 4, one client thread); its last line of
standard output is the JSON result. Exit status is 0 only when every
correctness check passed.

Extra options: --tiny (small inputs, for the benchmark's own tests) and
--generate-only DIR (write the workload's inputs for the seed and stop).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the library's own
# build.sbt passes the same list to its forked mains).
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
    sys.exit(2)


def workloads():
    with open(ROOT / "BENCHMARK.json") as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def source_digest():
    """Digest of every file the build reads: the library and the benchmark."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
              BENCH / "build.sbt", BENCH / "project", BENCH / "src"]
    for top in inputs:
        files = [top] if top.is_file() else sorted(
            p for p in top.rglob("*") if p.is_file() and "target" not in p.parts)
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Build when the sources changed since the last build; the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("the library sources (build.sbt, src/main) are not in this "
             "directory; run from the root of a checkout")
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        stamp, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
        if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
            return cp_file.read_text().strip()
        (BUILD / "tmp").mkdir(exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g") +
                           f" -Djava.io.tmpdir={BUILD / 'tmp'}")
        print("perfbench: building the library and the benchmark", file=sys.stderr)
        with open(BUILD / "build.log", "w") as log:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        out = p.stdout.splitlines()
        (BUILD / "build.log").open("a").write(p.stdout)
        cps = [l for l in out if "scala-2.13" in l and ".jar" in l
               and not l.startswith("[")]
        if p.returncode != 0 or not cps:
            fail(f"build failed (exit {p.returncode}); see {BUILD / 'build.log'}")
        cp_file.write_text(cps[-1])
        stamp.write_text(digest)
        return cps[-1]


def main():
    # a caller that stops the run sends SIGTERM: turn it into an exception
    # so that the build or the JVM is stopped, not left running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--generate-only")
    a = ap.parse_args()
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("BENCHMARK.json not found; run from the root of a checkout")
    if a.workload not in workloads():
        fail(f"unknown workload {a.workload}; one of {workloads()}")
    if a.generate_only is None and (a.seconds is None or a.trace is None):
        fail("--seconds and --trace are required")
    cp = classpath()
    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--work", str(work)]
    if a.generate_only is not None:
        cmd += ["--generate-only", str(Path(a.generate_only).resolve())]
    else:
        cmd += ["--seconds", str(a.seconds), "--trace", a.trace]
    if a.tiny:
        cmd.append("--tiny")
    child = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                             start_new_session=True)
    try:
        code = child.wait(timeout=RUN_TIMEOUT_S)
    except BaseException:
        # stop the JVM and anything it started, then wait for it to end
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        print("perfbench: run stopped before it finished", file=sys.stderr)
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
