#!/usr/bin/env python3
"""graft's layered benchmark.

    python3 perfbench/run.py --workload loops|scan --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt) and caches the class
path under perfbench/.build; later runs start the JVM directly.

One run is one JVM: set-up (timed from process start), a cold pass, an
untimed checked pass, then warm passes for S seconds; with --trace 1 traced
and untraced passes alternate in those S seconds. The load is a closed loop
with one client over the sf0.01 fixtures in perfbench/data; the seed only
shuffles the query order of each timed pass. Every query result is checked
against the DuckDB oracle's hash in perfbench/expected.json.

Diagnostic lines start with "[perfbench]". The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}, with the end-to-end
metrics for --trace 0 and the per-layer metrics for --trace 1. A traced run
also writes its spans to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170  # per JVM; the build has its own limit
BUILD_LIMIT_S = 850
HEAP = "1g"

# What the JVM needs on JDK 17 outside spark-submit; the same list as the
# program's build.sbt.
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
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def sources_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")) or "META-INF" in p:
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xss64m", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The run-time class path, building first if any source changed."""
    digest = sources_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building (sbt compile)")
    t0 = time.time()
    build_log = os.path.join(BUILD, "build.log")
    with open(build_log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build exceeded {BUILD_LIMIT_S} s; see {build_log}")
    with open(build_log) as f:
        lines = f.read().splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed; see {build_log}")
    cp = next((l for l in reversed(lines) if l.startswith("/") and ".jar" in l), None)
    if cp is None:
        fail("sbt printed no class path")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def java_cmd(cp, run_dir, mode, args):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return (["java", *opts, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             "-cp", cp, "perfbench.Main", "--mode", mode,
             "--work", run_dir, *args])


def launch(cmd, stderr_path, limit_s):
    """Runs the JVM, echoing its stdout; returns (seconds from process start
    to READY, the RESULT payload). Kills it after limit_s seconds."""
    t0 = time.perf_counter()
    ready = result = None
    with open(stderr_path, "ab") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, bufsize=1)
        watchdog = threading.Timer(limit_s, proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line == "READY" and ready is None:
                    ready = time.perf_counter() - t0
                elif line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
                else:
                    print(line, flush=True)
            proc.wait()
        finally:
            timed_out = not watchdog.is_alive() and proc.returncode != 0
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if timed_out:
        fail(f"run exceeded {RUN_LIMIT_S} s")
    if proc.returncode != 0:
        with open(stderr_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"JVM exited with {proc.returncode}")
    if ready is None or result is None:
        fail("JVM printed no READY or no RESULT")
    return ready, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default="sf0.01",
                    help="fixture set under perfbench/data (sf0.001 for self-tests)")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.json"))
    a = ap.parse_args()
    start = time.time()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"the program's sources are not next to {HERE}; run from a full checkout")
    data = os.path.join(HERE, "data", a.data)
    if not os.path.isfile(os.path.join(data, "lineitem.parquet")):
        fail(f"missing fixtures in {data}")
    with open(a.expected) as f:
        expected = json.load(f).get(a.data)
    if not expected:
        fail(f"no expected hashes for {a.data} in {a.expected}")

    cp = classpath()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"{a.workload}-s{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    expected_path = os.path.join(run_dir, "expected.json")
    with open(expected_path, "w") as f:
        json.dump(expected, f)
    stderr_path = os.path.join(run_dir, "jvm.log")
    trace_file = os.path.join(HERE, "out", f"trace-{a.workload}-s{a.seed}.json")
    try:
        setup, res = launch(
            java_cmd(cp, run_dir, "run", [
                "--workload", a.workload, "--cores", str(cores),
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data,
                "--expected", expected_path, "--trace-file", trace_file]),
            stderr_path, RUN_LIMIT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = {"setup_s": {"value": setup, "unit": "s"}, **res["e2e"]}
    for failure in res["failures"]:
        print(f"[perfbench] FAILED {failure}")
    print("[perfbench] box " + json.dumps(res["box"], sort_keys=True))
    print("[perfbench] run " + json.dumps(
        {**res["diag"], "wall_s": time.time() - start,
         "workload": a.workload, "seed": a.seed, "trace": a.trace}, sort_keys=True))
    print("[perfbench] e2e " + json.dumps(e2e, sort_keys=True))
    if a.trace:
        print(f"[perfbench] spans {os.path.relpath(trace_file, os.getcwd())}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["layers"] if a.trace else e2e,
    }))


if __name__ == "__main__":
    main()
