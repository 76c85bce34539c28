#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine.

    python3 perfbench/run.py --workload ingest|scan --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run compiles the engine and the
harness with sbt (perfbench/build.sbt depends on the repository's own
build) and records the runtime classpath under .bench_build/; later runs
launch the JVM directly on that classpath. The last line of standard output
is the JSON result. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# what JavaModuleOptions adds under spark-submit; same list as build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# inputs of the build: a change to any of them forces a rebuild
BUILD_INPUTS = [
    "build.sbt", "project/build.properties", "src/main",
    "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    (sbt starts a JVM of its own) and wait for it. Returns None on timeout."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, text=True, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


def build_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        if os.path.isfile(path):
            files = [path]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile once per source state; return (classpath, stamp)."""
    for rel in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"repository source {rel} not found next to perfbench/")
    stamp = build_stamp()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), stamp
    os.makedirs(OUT, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    p = run(cmd, BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    if p is None:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    lines = [l for l in p.stdout.splitlines() if re.search(r"classes(:|$)", l) and not l.startswith("[")]
    if not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, stamp


def heap():
    """JVM heap, sized like the tier-1 test command: half of RAM in GiB,
    clamped to [2, 8]; SPARK_DRIVER_MEM overrides."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    g = 2
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return f"{min(8, max(2, g))}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "scan"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp, stamp = build()
    work = os.path.join(OUT, "work")
    state = os.path.join(OUT, "state")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(state, exist_ok=True)
    mem = heap()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{mem}", f"-Xms{mem}",
        # fixed pre-touched heap: lazily faulted heap pages make GC times erratic
        "-XX:+UseTransparentHugePages", "-XX:+AlwaysPreTouch",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--state", state, "--build", stamp,
    ])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its
    # shuffle and spill files inside the work dir too
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = run(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=subprocess.PIPE)
    shutil.rmtree(work, ignore_errors=True)
    if p is None:
        fail("run timed out")
    out = p.stdout.splitlines()
    sys.stderr.write("\n".join(out[:-1]) + "\n")
    if p.returncode != 0 or not out:
        fail(f"benchmark exited with code {p.returncode}")
    result = json.loads(out[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
