#!/usr/bin/env python3
"""Self-tests of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

Takes about ten minutes at local[4]. Checks that
  1. every workload runs at smoke size and passes its output checks, and
     each run prints every metric BENCHMARK.json declares, with its unit
     (a traced run of a listed workload times all 31 SparkEntry queries);
  2. a deliberately corrupted result (one pair dropped, one cluster split)
     fails the check;
  3. another seed changes the inputs but not the metric set;
  4. in a directory holding only BENCHMARK.json and perfbench/, the
     benchmark exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
failures = []


def run(workload, seed, trace=0, extra=(), cwd=ROOT):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return p.returncode, result


def fingerprint(workload, seed, trace):
    kind = "traced" if trace else "plain"
    with open(os.path.join(ROOT, ".bench_out", f"{workload}-{seed}-{kind}", "trace.json")) as f:
        return json.load(f)["fingerprint"]


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def declared(trace):
    return {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}


def metric_set_ok(result, trace):
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    return got == declared(trace) and all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


listed = [w["name"] for w in SPEC["workloads"]]
for w in ["boilerplate_dedup", "daily_append", "pages_dedup", "driver_queries"]:
    for trace in ([0, 1] if w in listed else [0]):
        code, res = run(w, 1, trace)
        expect(res is not None and res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{w} trace={trace}: runs and passes its checks")
        expect(res is not None and metric_set_ok(res, trace),
               f"{w} trace={trace}: every declared metric, with its unit")
        if trace:
            entry = [k for k in declared(1) if k.startswith("SparkEntry.") and k.endswith(".s")]
            expect(res is not None and len(entry) == 31 and all(res["metrics"][k]["value"] > 0 for k in entry),
                   f"{w} trace=1: every SparkEntry query timed")

for w in ["boilerplate_dedup", "daily_append", "driver_queries"]:
    code, res = run(w, 1, 0, ["--corrupt"])
    expect(res is not None and not res["correct"] and res["failed"] >= 1,
           f"{w}: a corrupted result fails the check")

code, res = run("boilerplate_dedup", 2, 0)
expect(res is not None and metric_set_ok(res, 0) and res["correct"], "boilerplate_dedup seed 2 passes")
expect(fingerprint("boilerplate_dedup", 1, 0) != fingerprint("boilerplate_dedup", 2, 0),
       "another seed changes the inputs")

clean = os.path.join(ROOT, ".bench_out", "cleanroom")
shutil.rmtree(clean, ignore_errors=True)
os.makedirs(clean)
shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), clean)
shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(clean, "perfbench"))
p = subprocess.run(["python3", "perfbench/run.py", "--workload", listed[0], "--seed", "1",
                    "--seconds", "1", "--trace", "0"], cwd=clean, capture_output=True, text=True, timeout=180)
expect(p.returncode != 0 and '"correct"' not in p.stdout, "a directory without the engine fails without a result")
shutil.rmtree(clean, ignore_errors=True)

print(f"{len(failures)} failures")
sys.exit(1 if failures else 0)
