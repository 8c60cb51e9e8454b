#!/usr/bin/env python3
"""Ingest-path benchmark for graft: bronze JSON -> schema governance ->
two Structured Streaming normalizers -> one silver store -> gold MV.

Run from the root of a checkout:

    python3 perfbench/run.py --workload trickle|waves --seed N \
        --seconds S --trace 0|1

The first run builds the engine from the checkout's own sources together
with the benchmark code (sbt, offline) into .bench_build/; later runs
reuse the build while no source file changed. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and the run's spans are kept in
.bench_build/trace/. Any failed correctness check, build or timeout exits
non-zero without printing a result.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")

BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# JDK packages Spark needs opened; build.sbt reads the same file.
ADD_OPENS = os.path.join(BENCH_DIR, "add-opens.txt")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Every file the build reads from the checkout, sorted."""
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (ENGINE_SRC, ENGINE_RES, os.path.join(BENCH_DIR, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group. On timeout, SIGTERM or SIGINT
    kill the whole group and wait for it, so nothing outlives the
    benchmark; a timeout returns None."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def kill():
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()

    def on_signal(signum, _frame):
        kill()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, on_signal)
           for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        return None
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode


def build():
    """Compile engine + benchmark once per source state; return the
    runtime classpath."""
    stamp_file = os.path.join(BUILD_DIR, "build.stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=env,
                       stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}), log in {log}")
    classes = os.path.join(BUILD_DIR, "target")
    cps = [l for l in lines if classes in l and os.pathsep in l]
    if not cps:
        fail(f"build printed no classpath, log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["trickle", "waves"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"no engine sources at {os.path.relpath(ENGINE_SRC, ROOT)}: "
             "run from the root of a graft checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build needs $SPARK_HOME/jars")
    classpath = build()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD_DIR, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log = os.path.join(BUILD_DIR, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = [java_bin()]
    with open(ADD_OPENS) as fh:
        for o in fh.read().split():
            cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", os.path.join(work, "data"),
    ]
    if args.trace:
        cmd += ["--trace-out",
                os.path.join(BUILD_DIR, "trace", f"{tag}.jsonl")]
    out_file = os.path.join(work, "stdout")
    try:
        with open(out_file, "w") as out, open(log, "w") as err:
            rc = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=out,
                           stderr=err, stdin=subprocess.DEVNULL)
        with open(out_file) as fh:
            lines = [l for l in fh.read().splitlines() if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        fail("timed out" if rc is None else f"run failed (exit {rc}), "
             f"log in {os.path.relpath(log, ROOT)}")
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("run printed no result")
    if not (result.get("correct") is True and result.get("failed") == 0
            and result.get("attempted", 0) >= 1):
        fail(f"incorrect result: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
