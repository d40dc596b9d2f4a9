#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload index-pipeline --seed 1 --seconds 15 --trace 0

Workloads: index-pipeline, range-lookup, query-battery (see README.md).

The first run builds the library and the benchmark with sbt into
`.bench_build/` and `target/`; later runs reuse that build while no source
file changed. Each run starts one JVM, prints its progress and Spark's
warnings on stderr, and prints one JSON result as the last stdout line:

    {"correct": true, "attempted": 120, "failed": 0,
     "metrics": {"setup_s": {"value": 5.1, "unit": "s"}, ...}}

`--trace 1` prints the per-layer metrics instead of the end-to-end ones and
writes spans, a per-layer self-time table and the tracing overhead under
`.bench_build/trace/`. `--scale smoke` runs tiny inputs (the self-test).

Maintenance: `--record-fingerprints VERIFY_DIR` (query-battery only)
rewrites `perfbench/data/battery-fingerprints.tsv` from this checkout's
results, after checking each against VERIFY_DIR: the output of
`graft.Verify` over `perfbench/data/sf0.001`, which must have passed
`tools/selfcheck.py`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("index-pipeline", "range-lookup", "query-battery")
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 880
RUN_TIMEOUT_S = 170
# a fixed-size heap: no resizing during a run, so peak RSS and GC pauses
# do not depend on when the heap happened to grow
JVM_HEAP = ["-Xms3g", "-Xmx3g"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, as paths relative to the root."""
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    out = []
    for top in tops:
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(top)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out.extend(os.path.relpath(os.path.join(d, f), ROOT)
                       for f in sorted(files) if f.endswith((".scala", ".sbt",
                                                              ".properties", ".java")))
    return sorted(set(out))


def stamp():
    h = hashlib.sha256(ROOT.encode())
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile (if any source changed) and return the launch spec."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the repository root: no build.sbt / src/main/scala here")
    os.makedirs(BUILD, exist_ok=True)
    spec_path = os.path.join(BUILD, "launch.json")
    stamp_path = os.path.join(BUILD, "launch.stamp")
    want = stamp()
    if os.path.exists(spec_path) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read().strip() == want:
                with open(spec_path) as g:
                    return json.load(g)
    log_path = os.path.join(BUILD, "build.log")
    print(f"perfbench: building (log: {log_path})", file=sys.stderr)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SBT_OPTS=os.environ.get("SBT_OPTS", "") +
               f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "launchSpec"],
                cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(spec_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (exit {rc})", 3)
    with open(stamp_path, "w") as f:
        f.write(want + "\n")
    with open(spec_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    ap.add_argument("--record-fingerprints", metavar="VERIFY_DIR")
    a = ap.parse_args()
    if a.record_fingerprints and a.workload != "query-battery":
        fail("--record-fingerprints needs --workload query-battery")

    spec = build()
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    scratch = os.path.join(BUILD, f"scratch-{a.workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *spec["javaOptions"], *JVM_HEAP, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
           "-cp", os.pathsep.join(spec["classpath"]), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--scale", a.scale,
           "--cores", str(cores), "--scratch", scratch,
           "--data", os.path.join(BENCH, "data"),
           "--trace-dir", os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}")]
    if a.record_fingerprints:
        cmd += ["--record-fingerprints",
                os.path.join(BENCH, "data", "battery-fingerprints.tsv"),
                "--oracle-dir", os.path.abspath(a.record_fingerprints)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            env=env, text=True, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        sys.exit(5)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        stop()
    shutil.rmtree(scratch, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if lines[:-1]:
        sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}", 4)
    if a.record_fingerprints:
        return
    if not lines:
        fail("benchmark JVM printed no result", 4)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {lines[-1]}", 4)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
