#!/usr/bin/env python3
"""Benchmark entry point for the fineweb2rospark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from the
checkout's sources together with the harness in perfbench/src (sbt, offline)
and caches the classpath and a class-data-sharing archive under
$CARGO_TARGET_DIR (default .bench_build); later runs rebuild only when a
source file changed. Each run is one JVM at
local[nproc]: set-up (inputs from the seed, expected outputs, one warm
operation), then the workload's operation repeated for --seconds, every
output checked. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1). Traced runs also write their spans to
.perfbench_traces/. Everything a run writes lives under the checkout and
the run's scratch directory is deleted when it ends.

Workloads and metrics are listed in BENCHMARK.json; perfbench/LAYERS.md says
which layer metric should move which end-to-end metric on which workload.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("filter_mixed", "filter_scrub_heavy", "queries_core")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 450
ARCHIVE_TIMEOUT_S = 200

# Spark 4 on JDK 17 outside spark-submit needs these (as the engine's build).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_heap():
    """A quarter of RAM, between 2 and 4 GiB: room for the run, and for
    other tenants of the host."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 3


def java_cmd(cp, work, *jvm_args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java") or fail("no java")
    cmd = [java, f"-Xmx{java_heap()}g", f"-Djava.io.tmpdir={work}/tmp", *jvm_args]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main", "--work", work]


def run_java(cmd, work, timeout):
    """Runs one JVM in its own process group with a fresh scratch dir;
    kills the group on timeout and always deletes the scratch dir."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    return proc.returncode, out


def build(build_dir):
    """Builds when the sources changed; returns the runtime classpath and
    the class-data-sharing archive (None if the JVM could not make one)."""
    os.makedirs(build_dir, exist_ok=True)
    stamp_file = os.path.join(build_dir, "perfbench.stamp")
    cp_file = os.path.join(build_dir, "perfbench.classpath")
    jsa = os.path.join(build_dir, "perfbench.jsa")
    with open(os.path.join(build_dir, "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(stamp_file) and os.path.exists(cp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as c:
                        return c.read().strip(), jsa if os.path.exists(jsa) else None
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        sbt = shutil.which("sbt") or fail("sbt is not on PATH")
        t0 = time.time()
        proc = subprocess.run(
            [sbt, "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        lines = proc.stdout.splitlines()
        cps = [l for l in lines if not l.startswith("[") and "scala-library" in l]
        if proc.returncode != 0 or not cps:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail("build failed", 3)
        cp = cps[-1].strip()
        # one run over small inputs of every workload records the classes
        # they load; later JVMs map them instead of loading them again
        if os.path.exists(jsa):
            os.remove(jsa)
        work = os.path.join(ROOT, ".perfbench_work", f"archive-{os.getpid()}")
        rc, _ = run_java(java_cmd(cp, work, f"-XX:ArchiveClassesAtExit={jsa}")
                         + ["--workload", "archive"], work, ARCHIVE_TIMEOUT_S)
        if rc != 0 and os.path.exists(jsa):
            os.remove(jsa)
        print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp, jsa if os.path.exists(jsa) else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
             "run from the root of a full checkout")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp, jsa = build(build_dir)

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    shared = [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] \
        if jsa else []
    cmd = java_cmd(cp, work, *shared) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--trace-dir", os.path.join(ROOT, ".perfbench_traces")]
    rc, out = run_java(cmd, work, RUN_TIMEOUT_S)
    if out is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 4)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write(out)
        fail(f"run failed with exit code {rc}", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 5)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
