#!/usr/bin/env python3
"""Run one benchmark workload of the engine and print its result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: queries_sf0.01, dag_monthly (see BENCHMARK.json).

The first run builds the engine from the repository's sources together with
the benchmark program (`sbt compile` in perfbench/, offline); later runs reuse
that build while the sources are unchanged. The benchmark JVM prints one JSON
object as the last line of standard output and writes its full artifact,
and with --trace 1 its spans, to perfbench/out/.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
STAMP = os.path.join(HERE, "target", "bench-classpath.txt")
WORKLOADS = ("queries_sf0.01", "dag_monthly")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + driver once per source state; return the classpath."""
    digest = source_digest()
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            stamp, cp = fh.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] building engine and benchmark (sbt compile)", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    sys.stderr.write("".join(l + "\n" for l in p.stdout.splitlines() if l not in lines))
    if p.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n" + cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    # the benchmark measures the engine built from this checkout's sources
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources next to {HERE} (expected ../build.sbt and ../src)")

    cp = build()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # no hsperfdata file: the run writes nothing outside the checkout
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(OUT, 'spark-warehouse')}",
            f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--bench-dir", HERE]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    sys.exit(code)


if __name__ == "__main__":
    main()
