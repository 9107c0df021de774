#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload at tiny size, untraced and traced, and asserts
that each run is correct and emits every metric BENCHMARK.json names,
with its unit. Then runs each workload once with an injected defect
(one frame dropped from the wire, or one perturbed result digest) and
asserts that the correctness gate catches it: "correct" is false,
"failed" is at least 1, and the exit code is 1. Exits 0 when all of
that holds. Takes a few minutes on four cores.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORD = os.path.join(ROOT, ".bench_build", "smoke", "records.jsonl")
DEFECTS = {"wire_fanout": "drop_frame", "standing_absorb": "drop_frame",
           "catalog_scan": "perturb_digest"}


def run(workload, trace, inject="none"):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--size", "tiny",
           "--inject", inject, "--record", RECORD]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return p.returncode, result, p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in bench["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err = run(name, trace)
            if code != 0 or not res or not res["correct"]:
                problems.append(f"{name} trace={trace}: exit {code}, result {res}\n{err[-2000:]}")
                continue
            for m in bench[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or \
                        not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{name} trace={trace}: metric {m['name']} missing or "
                                    f"malformed: {got}")
            extra = set(res["metrics"]) - {m["name"] for m in bench[key]}
            if extra:
                problems.append(f"{name} trace={trace}: unexpected metrics {sorted(extra)}")
            print(f"ok   {name} trace={trace}: {len(res['metrics'])} metrics")
        code, res, err = run(name, 0, DEFECTS[name])
        caught = code == 1 and res is not None and not res["correct"] and res["failed"] >= 1
        if not caught:
            problems.append(f"{name}: injected {DEFECTS[name]} not caught (exit {code}, {res})")
        else:
            first = next((ln for ln in err.splitlines() if ln.startswith("CHECK FAILED")), "")
            print(f"ok   {name} catches {DEFECTS[name]}: {first[:150]}")
    for p in problems:
        print("FAIL " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
