#!/usr/bin/env python3
"""Load benchmark runner: builds the engine and the harness from source
(once per source state), then runs one workload in one JVM.

    python3 loadbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Run it from the repository root. The last stdout line is the result JSON.
The fixture is the sf 0.1 directory listed in the repository's TESTDATA.md
unless --data names another; --data passes through to loadbench.Main.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORK = os.path.join(ROOT, ".bench_work")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175

# what the build depends on: the engine's sources and build, and ours
INPUTS = [
    os.path.join(ROOT, "build.sbt"),
    os.path.join(ROOT, "project", "build.properties"),
    os.path.join(ROOT, "src", "main"),
    os.path.join(HERE, "build.sbt"),
    os.path.join(HERE, "project", "build.properties"),
    os.path.join(HERE, "src"),
]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"loadbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in INPUTS:
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def fixture_dir():
    """The sf 0.1 fixture directory, as the repository's TESTDATA.md lists it."""
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        for line in f:
            cells = [c.strip().strip("`") for c in line.split("|")]
            if len(cells) > 2 and cells[1] == "0.1":
                return cells[2].rstrip("/")
    fail("TESTDATA.md lists no sf 0.1 fixture directory")


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData"
                       " -Djava.io.tmpdir=" + os.path.join(WORK, "tmp"))
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("build timed out")
    if rc != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    args, extra = ap.parse_known_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"engine sources not found under {ROOT} (run from a full checkout)")
    for d in ("spark", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.legacy.parquet.nanosAsLong=true",
        "-Dspark.local.dir=" + os.path.join(WORK, "spark"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(WORK, "warehouse"),
        "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        "-Dderby.system.home=" + WORK,
        "-cp", cp, "loadbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace, "--work", WORK,
    ] + extra
    if "--data" not in extra:
        cmd += ["--data", fixture_dir()]
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"run failed (java exit {proc.returncode})")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
