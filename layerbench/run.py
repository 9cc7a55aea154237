#!/usr/bin/env python3
"""Layered benchmark for graft: builds graft and the harness from source, then
runs one workload in one Spark driver process.

    python3 layerbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--tiny]

Run from the repository root. The last line of standard output is the JSON
result; every metric is also printed above it by name with its unit.
Build outputs and run data go to $CARGO_TARGET_DIR (default .bench_build).
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
WORKLOADS = ["revisions_estimate", "synthetic_grid", "text_curate", "stream_cdc"]
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
# the JVM options graft's own build passes to forked Spark drivers
JVM_OPTS = [
    "-Xmx8g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-XX:-UsePerfData",
] + [arg for pkg in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for arg in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print("layerbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(build_dir):
    """Compiles graft plus the harness once per source state; returns the classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    cp_file = os.path.join(build_dir, "classpath-" + h.hexdigest()[:16] + ".txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    log = os.path.join(build_dir, "build.log")
    # sbt's global base, server and temporary files stay in the build directory
    sbt_tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.color=false", "-Dsbt.supershell=false",
           "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(build_dir, "sbt-global"),
           "-J-XX:-UsePerfData", "-J-Djava.io.tmpdir=" + sbt_tmp,
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("build timed out; see " + log, 3)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and ".jar" in l and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed; see " + log, 3)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the self-test")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found under %s/src/main/scala/graft" % ROOT)
    if not shutil.which("java") or not shutil.which("sbt"):
        fail("java and sbt must be on PATH")
    bad = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if bad:
        fail("refusing to run with graft overrides set: " + ", ".join(bad))
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(build_dir)

    work = os.path.join(build_dir, "work", "%s-%s" % (a.workload, a.trace))
    tmp = os.path.join(build_dir, "jvmtmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "layerbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work] + (["--tiny"] if a.tiny else [])
    sys.stdout.flush()
    p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("run timed out after %d s" % RUN_TIMEOUT_S, 4)
    except KeyboardInterrupt:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
