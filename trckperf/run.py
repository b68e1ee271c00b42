#!/usr/bin/env python3
"""Run one trck benchmark workload and print its metrics as JSON.

Usage, from the repository root:

    python3 trckperf/run.py --workload perftest1 --seed 1 --seconds 10 --trace 0

The first run builds the engine and the benchmark with sbt (offline) and
caches the resolved classpath under the build directory ($CARGO_TARGET_DIR,
default .bench_build); later runs rebuild only when a source file changed.
The benchmark main then runs in a JVM launched directly with `java -cp`, so
its last stdout line is bare JSON. Every input is generated under a
temporary directory inside the build directory and deleted at exit.
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
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("perftest1", "lake_multidb", "prepared_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # a first run, build included, ends within 15 minutes

# Spark 4 on JDK 17 needs these outside spark-submit (same list as the
# engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[trckperf] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file whose change needs a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(build_dir):
    """Build if sources changed; return the runtime classpath."""
    os.makedirs(build_dir, exist_ok=True)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as fh, open(cp_file) as c:
                fresh, cp = fh.read() == want, c.read()
            # a clean elsewhere (`sbt clean`, a deleted target/) empties
            # the class directories the cached classpath names
            if fresh and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
        log("building engine and benchmark with sbt (offline)")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS",
                       "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx3g")
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "trckperf/compile", "export trckperf/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines or lines[-1].startswith("["):
            sys.stderr.write(proc.stdout[-6000:])
            raise SystemExit("sbt build failed")
        cp = lines[-1].strip()
        with open(cp_file, "w") as fh:
            fh.write(cp)
        with open(stamp_file, "w") as fh:
            fh.write(want)
        return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke test runs tiny inputs)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("trckperf: the engine sources (build.sbt, src/main/scala/graft) "
                         "are not next to the benchmark; run it from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        raise SystemExit("trckperf: java and sbt are required")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    cp = classpath(os.path.join(build_dir, "trckperf"))
    # local[n] with one core left for the driver thread, JIT and GC: with
    # every core running tasks, op times drift with their contention
    cores = max(1, min(4, (os.cpu_count() or 1) - 1))

    work = tempfile.mkdtemp(prefix="work-", dir=build_dir)
    # young generation fixed at 256 MB: G1's adaptive one grows to ~1.2 GB,
    # so a query sees zero or one collection and heap_peak_mb, the heap
    # after the collections inside queries, is bimodal
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn256m", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + work,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "trckperf.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--scale", str(args.scale), "--work-dir", work])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"trckperf: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"trckperf: benchmark exited with {proc.returncode}")
    result = json.loads(lines[-1])
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
