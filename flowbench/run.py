#!/usr/bin/env python3
"""Run one flowbench workload against the graft engine in this checkout.

    python3 flowbench/run.py --workload ingest|dashboard|ann_serve \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (the harness is its own sbt build under flowbench/ that
depends on the root build) and caches the resulting classpath under
.bench_build/flowbench, keyed by a hash of every source and build file;
later runs reuse it. Each run gets fresh directories for the stream
checkpoint, sink, stores, Spark's local dir and the JVM temp dir, and
deletes them when it ends. The last line of standard output is the JSON
result printed by flowbench.FlowBench; on any failure nothing is printed
there and the exit code is not 0.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
STATE = os.path.join(ROOT, ".bench_build", "flowbench")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "2g"

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
    print(f"flowbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    files = []
    for base in ("build.sbt", "project", "src/main",
                 "flowbench/build.sbt", "flowbench/project", "flowbench/src/main"):
        path = os.path.join(ROOT, base)
        if os.path.isfile(path):
            files.append(base)
        for d, subdirs, names in os.walk(path):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in sorted(names)]
    return files


def source_hash():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it. The whole group
    is killed on timeout, and on SIGTERM or SIGINT to this script, so no
    process outlives the run."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(128 + signum)

    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
        return None, out, err
    finally:
        for s, h in previous.items():
            signal.signal(s, h)
    return proc.returncode, out, err


def classpath():
    """The harness's runtime classpath, building it first if the sources changed."""
    os.makedirs(STATE, exist_ok=True)
    cp_file = os.path.join(STATE, f"classpath-{source_hash()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    t0 = time.time()
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH_DIR)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if code != 0 or not cp or not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        sys.stderr.write(out or "")
        sys.stderr.write(err or "")
        fail(f"build failed (exit {code})")
    print(f"flowbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "dashboard", "ann_serve"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft", "flowbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = classpath()
    run_dir = os.path.join(STATE, f"run-{os.getpid()}-{time.time_ns()}")
    work, tmp, local = (os.path.join(run_dir, d) for d in ("work", "tmp", "spark-local"))
    for d in (work, tmp, local):
        os.makedirs(d)
    spans_dir = os.path.join(STATE, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    spans = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl")
    # a fixed heap; the parallel collector's fixed generations keep the
    # peak resident set steady from run to run (G1's adaptive sizing moved
    # it by 10%)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "flowbench.FlowBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--spans", spans]
    try:
        code, out, err = run_group(cmd, RUN_TIMEOUT_S, cwd=run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = (out or "").splitlines()
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None:
        sys.stderr.write(err or "")
        sys.stderr.write(out or "")
        fail("timed out" if code is None else f"run failed (exit {code})")
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
