#!/usr/bin/env python3
"""Platform benchmark launcher.

    python3 platbench/run.py --workload cdc|dedup --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
engine's sources together with the benchmark (sbt, once; later runs
reuse the classpath while the sources are unchanged), then every run
launches one JVM directly, in a fresh scratch directory that is removed
when the run ends. The JVM prints the result JSON as the last line of
stdout.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(HERE, ".build")
RUNS_DIR = os.path.join(HERE, ".runs")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_stamp():
    """Digest of every file the build compiles."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """(classpath, built now?) — compiles first when sources changed."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    print("[platbench] compiling (once per source change)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l.strip() for l in p.stdout.splitlines()
             if "scala-2.13" in l and os.pathsep in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        sys.exit("[platbench] build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], True


def _stop(signum, _frame):
    # turn a termination signal into an exception, so the JVM is stopped
    # and the scratch directory removed on the way out
    raise SystemExit(128 + signum)


def main():
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, _stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["cdc", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        sys.exit("[platbench] engine sources not found: run from the "
                 "repository root of a full checkout")
    cp, built = classpath()
    # set-up time runs from the process start, minus a first-run build
    t0 = time.time() if built else T0
    run_dir = os.path.join(RUNS_DIR, "%d-%d" % (os.getpid(), time.time_ns()))
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java", "-Xmx3g"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
              "-cp", cp, "platbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--dir", run_dir, "--t0", "%.6f" % t0])
    proc = None
    try:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL)
        code = proc.wait()
    finally:
        if proc is not None and proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
