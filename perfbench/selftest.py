#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001 tables, 2 pulsars, a
2,000-row chain). Run from the repository root:

    python3 perfbench/selftest.py

It asserts that every workload (the gated ones and query_work) prints
every metric BENCHMARK.json names, with its unit, in both modes and passes
its output checks; and that a tampered expected digest and a tampered
noise file each show up as a failed operation. Exits 0 when all
assertions hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
failures = []


def run(workload, trace, *extra):
    cmd = RUN + ["--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stdout}\n{p.stderr}")
    return json.loads(lines[-1]), p.stdout


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def names_and_units(result, trace):
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    return got == want and all(isinstance(v["value"], (int, float))
                               for v in result["metrics"].values())


# every gated workload, plus query_work, which stays runnable
for w in [x["name"] for x in SPEC["workloads"]] + ["query_work"]:
    for trace in (0, 1):
        res, _ = run(w, trace)
        expect(names_and_units(res, trace), f"{w} --trace {trace}: every metric with its unit")
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{w} --trace {trace}: all {res['attempted']} operations pass their checks")

# a tampered expected digest must fail exactly that query
floor = [l.strip() for l in open(os.path.join(HERE, "workloads", "query_floor.txt"))
         if l.strip() and not l.startswith("#")]
victim = floor[0]
tampered = os.path.join(HERE, ".work", "selftest-expected.tsv")
os.makedirs(os.path.dirname(tampered), exist_ok=True)
with open(os.path.join(HERE, "expected", "sf0.001.tsv")) as src, open(tampered, "w") as dst:
    for line in src:
        if line.startswith(victim + "\t"):
            line = f"{victim}\tn=0:000000000000000000000000\n"
        dst.write(line)
res, out = run("query_floor", 0, "--expected", tampered)
expect(res["failed"] >= 1 and not res["correct"] and f"FAILED {victim} " in out,
       f"tampered digest of {victim} counts as a failed operation")

# a noise file corrupted between write and read-back must fail noise_read
res, out = run("pta_pipeline", 0, "--tamper-noise")
expect(res["failed"] >= 1 and not res["correct"] and "FAILED noise_read " in out,
       "tampered noise file counts as a failed operation")

print(f"selftest: {'FAILED ' + str(len(failures)) if failures else 'all passed'}")
sys.exit(1 if failures else 0)
