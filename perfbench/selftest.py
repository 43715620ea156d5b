#!/usr/bin/env python3
"""Self-test of the benchmark's output contract and of its checks.

    python3 perfbench/selftest.py

Per workload it runs:
  1. seed S, untraced: exit 0, `correct` true, the JSON carries exactly the
     end-to-end metrics of BENCHMARK.json, every line is under 4 KB;
  2. seed S, traced, with one result deliberately corrupted: exit 1,
     `correct` false, the JSON carries exactly the per-layer metrics, and
     the operation-stream digest equals run 1's;
  3. seed S+1: a different digest.
Then it runs the benchmark in a directory holding only BENCHMARK.json and
perfbench/, where it must fail without printing a result. Takes a few
minutes; exits non-zero on the first violated expectation.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SEED = 7


def run(cwd, workload, seed, trace, corrupt=False, seconds=2):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.splitlines()
    digest = next((l.split()[-1] for l in lines if l.startswith("info stream_digest")), None)
    return p, lines, digest


def expect(cond, msg):
    if not cond:
        print("FAIL: " + msg)
        sys.exit(1)
    print("ok:   " + msg)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    for w in [x["name"] for x in spec["workloads"]]:
        p, lines, d1 = run(ROOT, w, SEED, 0)
        res = json.loads(lines[-1])
        expect(p.returncode == 0 and res["correct"], f"{w}: untraced run checks correct")
        expect(sorted(res["metrics"]) == sorted(e2e), f"{w}: JSON holds the end-to-end metrics")
        expect(all(v["value"] != 0 for v in res["metrics"].values()), f"{w}: no end-to-end metric is 0")
        expect(max(len(l.encode()) for l in lines) < 4096, f"{w}: every line under 4 KB")
        p, lines, d2 = run(ROOT, w, SEED, 1, corrupt=True)
        res = json.loads(lines[-1])
        expect(p.returncode == 1 and not res["correct"], f"{w}: a corrupted result is rejected")
        expect(sorted(res["metrics"]) == sorted(layer), f"{w}: traced JSON holds the per-layer metrics")
        expect(d1 is not None and d1 == d2, f"{w}: same seed, same operation digest")
        _, _, d3 = run(ROOT, w, SEED + 1, 0, seconds=1)
        expect(d3 is not None and d3 != d1, f"{w}: another seed, another digest")

    os.makedirs(os.path.join(BENCH, "target"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, "target")) as tmp:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        shutil.copytree(BENCH, os.path.join(tmp, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        p, lines, _ = run(tmp, spec["workloads"][0]["name"], SEED, 0)
        expect(p.returncode != 0 and not any(l.startswith("{") for l in lines),
               "without the engine sources the run fails and prints no result")


if __name__ == "__main__":
    main()
