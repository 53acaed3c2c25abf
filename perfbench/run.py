#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload serve_codings --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the checkout root. The first call builds the engine and the
benchmark client from source with sbt (output in $CARGO_TARGET_DIR,
default .bench_build) and generates the query data set; later calls reuse
both while the sources are unchanged. Each run gets a fresh working
directory under the build directory (Spark warehouse, spark.local.dir and
java.io.tmpdir all inside it), deleted afterwards. The last line of
standard output is the result object.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

WORKLOADS = ("serve_codings", "query_suite", "ingest_scan")
# Scale factor of the generated star schema that query_suite runs on.
QUERY_SF = "0.01"
# Same heap on both sides of a comparison; -Xms = -Xmx, touched up
# front, so heap sizing and first-touch page faults never vary between
# runs.
HEAP = "2g"
RUN_TIMEOUT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_hash(root):
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src"),
            os.path.join(root, "perfbench", "build.sbt"),
            os.path.join(root, "perfbench", "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile with sbt once per source state; returns the classpath."""
    stamp = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    digest = source_hash(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and benchmark with sbt")
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=800)
    sys.stderr.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return cp


def java_cmd(cp, run_dir, main, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-Duser.timezone=UTC", "-Dsun.net.httpserver.nodelay=true",
               f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
               f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
               "-cp", cp, main] + args)


def run_java(cmd, run_dir, timeout):
    """Run the JVM in its own process group; kill the group on timeout."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"JVM still running after {timeout}s; killing it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def ensure_data(cp, build_dir):
    """Generate the query data set once per build (deterministic)."""
    data = os.path.join(build_dir, "data", f"sf{QUERY_SF}")
    done = os.path.join(data, "_done")
    if os.path.exists(done):
        return data
    log(f"generating sf{QUERY_SF} data")
    shutil.rmtree(data, ignore_errors=True)
    run_dir = tempfile.mkdtemp(prefix="gen-", dir=build_dir)
    try:
        rc = run_java(java_cmd(cp, run_dir, "graft.datagen.SfGen", [data, QUERY_SF]),
                      run_dir, 600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0:
        raise SystemExit("perfbench: data generation failed")
    open(done, "w").close()
    return data


def main():
    # A TERM or INT (a caller's timeout, Ctrl-C) unwinds through the
    # finally blocks below, which kill the JVM and delete the run dir.
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: run from the checkout root (no src/main/scala here)")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)
    data = ensure_data(cp, build_dir)

    run_dir = tempfile.mkdtemp(prefix="run-", dir=build_dir)
    try:
        if a.selftest:
            rc = run_java(java_cmd(cp, run_dir, "perfbench.SelfTest", []), run_dir, RUN_TIMEOUT_S)
            raise SystemExit(0 if rc == 0 else 1)
        out = os.path.join(run_dir, "result.json")
        t0 = time.time_ns()
        cmd = java_cmd(cp, run_dir, "perfbench.Main",
                       [a.workload, str(a.seed), str(a.seconds), str(a.trace), data, out, str(t0)])
        rc = run_java(cmd, run_dir, RUN_TIMEOUT_S)
        if not os.path.exists(out):
            raise SystemExit(f"perfbench: run produced no result (exit {rc})")
        with open(out) as f:
            result = json.loads(f.read())
        if a.trace:
            keep = os.path.join(build_dir, "traces")
            os.makedirs(keep, exist_ok=True)
            spans = os.path.join(run_dir, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(keep, f"{a.workload}-seed{a.seed}.jsonl"))
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
