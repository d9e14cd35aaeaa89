#!/usr/bin/env python3
"""Runs the incremental-view benchmark.

    python3 viewbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from ../src/main/scala together with the benchmark
(sbt, once per source state), then runs one workload in a fresh JVM. The
JVM's last stdout line is the result JSON; it is passed through as this
script's last line. Exits non-zero, printing no result, if the build or
the run fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "viewbench.classpath")
STAMP_FILE = os.path.join(BUILD_DIR, "viewbench.stamp")
WORK_DIR = os.path.join(HERE, "work")
TRACE_DIR = os.path.join(HERE, "traces")

WORKLOADS = ("replay_dashboard", "live_usage", "resync_batch")
BUILD_TIMEOUT_S = 840


def run_timeout_s(seconds, trace):
    """A run is start-up, three set-ups and a warm-up (about 40 s), then one
    window of `seconds`, or two and the traced checks with tracing; each
    window may overrun by up to half of itself. 160 s at 10 s traced."""
    return 100 + (2 + trace) * seconds * 2

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the program's own build.sbt carries the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"viewbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout}s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read() == stamp:
                with open(CLASSPATH_FILE) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    build_tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(build_tmp, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={build_tmp}", "compile", "export Runtime/fullClasspath"]
    code, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    cp = next((l.strip() for l in reversed(lines)
               if os.path.join(HERE, "target") in l and ":" in l and not l.startswith("[")), None)
    if code != 0 or cp is None:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {os.path.relpath(PROGRAM_SRC)}: "
             "run from a full checkout of the repository")

    cp = build()
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # fixed heap and young generation: the resident set then depends on
    # what the program keeps, not on GC sizing decisions
    cmd = [java, "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(WORK_DIR, 'derby.log')}",
           f"-Dspark.local.dir={os.path.join(WORK_DIR, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(WORK_DIR, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           ]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "viewbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(WORK_DIR, "data"), "--traces", TRACE_DIR]
    code, out = run_group(cmd, run_timeout_s(a.seconds, a.trace), stdout=subprocess.PIPE, text=True)
    lines = out.splitlines()
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out[-4000:])
        fail(f"run failed (java exit {code})")
    sys.stdout.write("\n".join(lines) + "\n")
    shutil.rmtree(WORK_DIR, ignore_errors=True)


if __name__ == "__main__":
    main()
