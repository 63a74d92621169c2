#!/usr/bin/env python3
"""Self-test of the benchmark on sf0.001-derived inputs.

    python3 etlbench/smoke.py

For every workload it runs `run.py` untraced and traced and checks that the
run finishes, is correct, and prints every metric declared in
BENCHMARK.json by name, with its unit and a finite value. Then it perturbs
one cell of one query's output and checks that the run reports the failure.
Exit code 0 on success.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SPEC = json.load(open(os.path.join(HERE, "workloads.json")))


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "smoke", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=175)
    assert p.returncode == 0, f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-2000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(result, declared, what):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["attempted"] >= 1
    got = result["metrics"]
    assert set(got) == {d["name"] for d in declared}, f"{what}: metric names differ"
    for d in declared:
        m = got[d["name"]]
        assert m["unit"] == d["unit"], f"{what}: unit of {d['name']}"
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), \
            f"{what}: {d['name']} = {m['value']!r}"


def main():
    for w in SPEC["workloads"]:
        for trace, declared in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
            r = run(w, trace)
            assert r["correct"] and r["failed"] == 0, f"{w} trace={trace}: {r}"
            check_metrics(r, declared, f"{w} trace={trace}")
            print(f"ok   {w} trace={trace}: {len(r['metrics'])} metrics")
    w = sorted(SPEC["workloads"])[0]
    victim = SPEC["workloads"][w]["queries"][0]
    r = run(w, 0, "--perturb", victim)
    assert not r["correct"] and r["failed"] == 1, f"perturbed {victim} not caught: {r}"
    print(f"ok   perturbed {victim} output is reported as a failure")


if __name__ == "__main__":
    main()
