#!/usr/bin/env python3
"""Run one workload of the dedup benchmark.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine and the benchmark are compiled
from source with sbt (the benchmark's own build in perfbench/), once per
source state: each state builds into its own .bench_build/<hash>/, keyed
by a hash of every source and build file, so switching between two source
states reuses both builds. The benchmark itself runs in one JVM on
local[<cores>], <cores> being the CPUs the JVM may use; its last stdout
line is the JSON result.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("flagship", "skew", "epoch")
# a run must end within 180 s, or 900 s when it has to build first; the JVM
# gets what is left of that after the build
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880
HEAP = "3g"
# JDK 17 module openings Spark needs outside spark-submit (the root build's list)
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


def source_stamp():
    """Hash of every file the build reads: engine sources, benchmark sources
    and the benchmark's build definition."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, **kw):
    """Run a child in its own process group; kill the whole group when it
    overruns or when this script is told to stop, and wait until it has
    ended."""
    proc = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} exceeded {limit_s} s and was stopped", 3)
    finally:
        for s, h in previous.items():
            signal.signal(s, h)
    return proc.returncode, out, err


def sbt_opts():
    opts = os.environ.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    return opts.strip()


def spark_home():
    """The Spark install the engine compiles against: $SPARK_HOME, or the
    first spark-submit on the PATH that sits in an install with a jars/ dir
    (a pip-installed pyspark wrapper does not)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark install found: set SPARK_HOME")


def classpath(limit_s):
    """The runtime classpath of the current source state, building it into
    its own directory the first time; returns it and whether it was built."""
    out_dir = os.path.join(BUILD, source_stamp())
    cp_file = os.path.join(out_dir, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read(), False
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(out_dir, exist_ok=True)
    env = dict(os.environ, SBT_OPTS=sbt_opts(), SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           f"-Dperfbench.target={os.path.join(out_dir, 'target')}",
           "compile", "export Runtime/fullClasspath"]
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    code, out, _ = run_bounded(cmd, HERE, limit_s, env=env,
                               stdout=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail(f"sbt build failed (exit {code})", 4)
    cp = lines[-1].strip()
    # written last: a build that was stopped leaves no classpath behind
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    return cp, True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
             "run from a full checkout of the repository")
    t0 = time.monotonic()
    cp, built = classpath(BUILD_RUN_LIMIT_S - 60)
    jvm_limit_s = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)

    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work])
    try:
        code, out, _ = run_bounded(cmd, work, jvm_limit_s, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if code != 0 or not isinstance(result, dict):
        sys.stderr.write(out)
        fail(f"benchmark JVM failed (exit {code}) without a result line", 5)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
