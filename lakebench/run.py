#!/usr/bin/env python3
"""Lake benchmark entry point.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
engine and the harness with sbt (lakebench/build.sbt); later runs reuse
the build while no source changed. Each run starts one JVM, cleans its
own work directory under lakebench/.work first, and relays the JVM's
output: the last stdout line is the result JSON. Traced runs (--trace 1)
leave their spans in lakebench/.out. See lakebench/NOTES.md.

Environment: LAKEBENCH_SF_DIR overrides the registry testdata directory
(default /root/testdata/sf0.1; digests in pins.json are for that data).
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, ".build")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
STAMP = os.path.join(BUILD_DIR, "stamp.txt")
WORKLOADS = ("registry_heavy", "lake_writes")
RUN_TIMEOUT_S = 175
HEAP = "4g"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every source path, size and mtime the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamped build is current; return the
    runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=/root/.sbt/repositories "
                   "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, stdin=subprocess.DEVNULL)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be positive")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found at {ENGINE_SRC}; run from a checkout")
    sf = os.environ.get("LAKEBENCH_SF_DIR", "/root/testdata/sf0.1")
    # registry warm-up runs over the smallest sibling scale factor
    warm = os.path.join(os.path.dirname(os.path.abspath(sf)), "sf0.001")
    if a.workload != "lake_writes" and not (os.path.isdir(sf) and os.path.isdir(warm)):
        fail(f"registry testdata not found at {sf} and {warm}")
    cp = build()

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(HERE, ".out")
    os.makedirs(out, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed, pre-touched heap keeps peak RSS from tracking when the
    # collector chose to grow the heap
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "lakebench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--out", out,
            "--pins", os.path.join(HERE, "pins.json"), "--sf", sf,
            "--warm-sf", warm]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(stdout[-2000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    sys.stdout.write(stdout if stdout.endswith("\n") else stdout + "\n")


if __name__ == "__main__":
    main()
