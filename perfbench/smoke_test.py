#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (about three minutes).

Run from the root of the repository:

    python3 perfbench/smoke_test.py

For every workload, untraced and traced, at `--scale smoke` (sf0.001 with
three battery gates, a few thousand WARC records, a few dozen lookups):

- the run exits 0 and its last stdout line is the result object;
- the result is correct, with no failed operation;
- the output checks ran (run.py's stderr reports how many passed);
- every metric BENCHMARK.json names is emitted, with its unit: the
  end-to-end metrics untraced, the per-layer metrics traced;
- a traced run wrote its spans, per-layer table and tracing overhead.

It also checks that the benchmark refuses to run, without printing a
result, in a directory that holds only BENCHMARK.json and perfbench/.
"""
import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SEED = 7


def run(workload, trace, cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(SEED),
                             "--seconds", "1", "--trace", str(trace),
                             "--scale", "smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(workload, trace, p):
    where = f"{workload} --trace {trace}"
    assert p.returncode == 0, f"{where}: exit {p.returncode}\n{p.stderr[-3000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, where
    assert result["correct"] is True, f"{where}: not correct: {result}"
    assert result["failed"] == 0 and result["attempted"] >= 1, f"{where}: {result}"
    passed = [int(n) for n in re.findall(r"output checks: (\d+) passed", p.stderr)]
    assert passed and passed[-1] > 0, f"{where}: no output check ran"
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}, \
        f"{where}: metric names differ: {sorted(set(got) ^ {m['name'] for m in want})}"
    for m in want:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{where}: {m['name']} unit {v['unit']}"
        assert isinstance(v["value"], (int, float)), f"{where}: {m['name']}"
        if not trace:
            assert v["value"] > 0, f"{where}: {m['name']} reads {v['value']}"
    if trace:
        d = os.path.join(ROOT, ".bench_build", "trace", f"{workload}-seed{SEED}")
        for f in ("spans.json", "layers.txt", "overhead.txt"):
            assert os.path.getsize(os.path.join(d, f)) > 0, f"{where}: no {f}"
        assert json.load(open(os.path.join(d, "spans.json"))), f"{where}: no spans"
    print(f"ok   {where}: {result['attempted']} operations, "
          f"{passed[-1]} output checks", flush=True)


def check_refuses_without_sources():
    bare = os.path.join(ROOT, ".bench_build", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("target"))
    p = run(SPEC["workloads"][0]["name"], 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0, "ran without the library sources"
    assert not p.stdout.strip(), f"printed a result without sources: {p.stdout}"
    print("ok   refuses to run without the library sources", flush=True)


def main():
    check_refuses_without_sources()
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            check_result(w["name"], trace, run(w["name"], trace))
    print("smoke test passed")


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        print(f"FAIL {e}", file=sys.stderr)
        sys.exit(1)
