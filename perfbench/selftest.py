#!/usr/bin/env python3
"""Benchmark self-tests.

    python3 perfbench/selftest.py

1. The slow-log generator is deterministic for a seed, and its expected
   totals equal a sequential SlowLogParser.parseString of the generated
   files (JVM side, perfbench.SelfTest).
2. Every metric named in BENCHMARK.json is printed by a run: one short
   untraced run per workload must print exactly the end_to_end metrics
   with their units, and one short traced run exactly the per_layer ones.
Exits non-zero on any failure.
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402  (the benchmark entry point)


def result(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                        "--workload", workload, "--seed", "7",
                        "--seconds", "2", "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


def main():
    failures = []
    run.build()
    os.makedirs(run.WORK, exist_ok=True)
    try:
        print("\n".join(run.jvm(["--selftest"])))
    except SystemExit as e:
        failures.append(f"generator self-test: {e}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    def expect(names, trace, workload):
        rc, res = result(workload, trace)
        if rc != 0 or res is None:
            failures.append(f"{workload} trace={trace}: exit {rc}")
            return
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        want = {m["name"]: m["unit"] for m in names}
        if got != want:
            failures.append(
                f"{workload} trace={trace}: missing {sorted(set(want) - set(got))}, "
                f"extra {sorted(set(got) - set(want))}, unit mismatches "
                f"{sorted(k for k in want if k in got and got[k] != want[k])}")
    for w in spec["workloads"]:
        expect(spec["end_to_end"], 0, w["name"])
    expect(spec["per_layer"], 1, spec["workloads"][0]["name"])
    for f in failures:
        print("FAIL", f)
    print("selftest:", "ok" if not failures else f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
