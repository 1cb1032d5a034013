#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

Run from the checkout root. Uses `--scale tiny` inputs, so each run takes
well under a minute after the one-time build. Checks that:
  1. every workload, untraced and traced, prints each metric of
     BENCHMARK.json with its unit and passes its correctness gate;
  2. a lake copy with one row's content altered trips the gate: the run
     reports correct=false, failed>0, and exits non-zero;
  3. the tail's open-loop generator reports how late it ran;
  4. a directory holding only BENCHMARK.json and perfbench/ makes the
     benchmark exit non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

SPEC = json.load(open("BENCHMARK.json"))


def run(*args, cwd="."):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--seed", "7", "--seconds", "2", "--scale", "tiny", *args],
                       cwd=cwd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p, result


failures = []


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


for w in SPEC["workloads"]:
    for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
        p, r = run("--workload", w["name"], "--trace", trace)
        tag = f"{w['name']} trace={trace}"
        expect(p.returncode == 0 and r is not None and r["correct"],
               f"{tag}: exit 0 and correct")
        if r is None:
            continue
        got = r["metrics"]
        missing = [m["name"] for m in SPEC[key]
                   if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]]
        expect(not missing, f"{tag}: every {key} metric printed with its unit"
               + (f" (missing {missing})" if missing else ""))
        expect(isinstance(r["attempted"], int) and r["attempted"] >= 1
               and r["failed"] == 0, f"{tag}: attempted >= 1, failed == 0")
        if w["name"] == "ingest":
            late = [l for l in p.stdout.splitlines()
                    if " generator_late_max_s = " in l]
            expect(len(late) == 1, f"{tag}: open-loop generator lateness reported")
            if trace == "1":
                expect("bench.generator_late_max_s" in got,
                       f"{tag}: bench.generator_late_max_s in the traced metrics")

p, r = run("--workload", "ingest", "--trace", "0", "--corrupt")
expect(p.returncode != 0 and r is not None and not r["correct"] and r["failed"] > 0,
       "altered lake copy: correct=false, failed>0, non-zero exit")

bare = os.path.abspath(os.path.join(
    os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench", "selftest-bare"))
shutil.rmtree(bare, ignore_errors=True)
os.makedirs(bare)
shutil.copy("BENCHMARK.json", bare)
for d in SPEC["paths"]:
    shutil.copytree(d, os.path.join(bare, d),
                    ignore=shutil.ignore_patterns("__pycache__"))
p, r = run("--workload", SPEC["workloads"][0]["name"], "--trace", "0",
           cwd=bare)
expect(p.returncode != 0 and r is None,
       "benchmark files alone: non-zero exit, no result printed")
shutil.rmtree(bare, ignore_errors=True)

print(f"{len(failures)} failure(s)")
sys.exit(1 if failures else 0)
