#!/usr/bin/env python3
"""End-to-end choir-ETL benchmark.

Run from the root of a checkout:

    python3 choirbench/run.py --workload etl_full --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark harness from source with sbt (once per
source state, cached under .bench_build/), runs one workload in a fresh JVM,
forwards its report and prints, as the last line, one JSON object with the
keys correct, attempted, failed and metrics. Exits non-zero without a result
when the build, the run or the output check fails.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_full", "alerts_serve", "curate_corpus")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (same list as the program's own build.sbt).
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
    print(f"choirbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    """Every file the build reads, in a stable order."""
    out = []
    for top in ("src/main", "project", "choirbench/src", "choirbench/project"):
        base = os.path.join(ROOT, top)
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    return out


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout or return, make sure
    nothing it started is left running."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    finally:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(p.pid, sig)
            except ProcessLookupError:
                break
            time.sleep(0.5)
        p.wait()
    return p.returncode


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    env = dict(os.environ)
    # everything the build needs is in the local caches: never resolve online
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    t0 = time.time()
    with open(log, "w") as out:
        rc = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, env=env)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not cps:
        fail(f"build printed no classpath; log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"choirbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cps[-1]


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    # The benchmark measures the program beside it: without the program's
    # sources there is nothing to build.
    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"'{need}' not found: run from the root of a full checkout")

    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}/warehouse",
        "-cp", cp, "choirbench.Bench",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work,
    ]
    out_path, err_path = os.path.join(work, "stdout.txt"), os.path.join(work, "stderr.txt")
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    try:
        with open(out_path, "w") as out, open(err_path, "w") as err:
            rc = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdout=out, stderr=err,
                           stdin=subprocess.DEVNULL, env=env)
        with open(out_path) as f:
            lines = f.read().splitlines()
        if rc != 0:
            with open(err_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        trace_src = os.path.join(work, "trace.json")
        if os.path.exists(trace_src):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(trace_src, os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    results = [l for l in lines if l.startswith("RESULT ")]
    for l in lines:
        if not l.startswith("RESULT "):
            print(l)
    if rc != 0 or not results:
        fail(f"run failed (exit {rc})")
    res = json.loads(results[-1][len("RESULT "):])
    missing = [m for m in expected_metrics(a.trace) if m not in res["metrics"]]
    if missing:
        fail(f"run reported no value for {missing}")
    if res["attempted"] < 1:
        fail("no operation was attempted")
    print(json.dumps(res))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
