#!/usr/bin/env python3
"""Self-test of the benchmark harness, at short run length.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that an untraced run emits
every end-to-end metric and a traced run every per-layer metric, each
with its declared unit, with all outputs correct. Then, for every
workload, it drops one row from a store output table before the check and
expects the run to report it as a failed op. Exits non-zero on the first
failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "4", "--trace", str(trace), *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.exit(f"FAIL {workload}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(w["name"], trace)
            assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want:
                sys.exit(f"FAIL {w['name']} trace={trace}: metrics {got} != declared {want}")
            if not r["correct"] or r["failed"]:
                sys.exit(f"FAIL {w['name']} trace={trace}: outputs incorrect: {r}")
            print(f"ok   {w['name']} trace={trace}: {len(got)} metrics, "
                  f"{r['attempted']} ops attempted")
    for w in spec["workloads"]:
        r = run(w["name"], 0, "--drop-row")
        if r["correct"] or r["failed"] < 1:
            sys.exit(f"FAIL {w['name']}: a dropped store row went unnoticed: {r}")
        print(f"ok   {w['name']} with one store row dropped: "
              f"{r['failed']} of {r['attempted']} ops failed")


if __name__ == "__main__":
    main()
