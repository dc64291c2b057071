#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it makes two runs at --scale tiny
(a few thousand resources, three queries):

  * --trace 0: the run is correct, and prints exactly the end-to-end metrics
    with their units;
  * --trace 1 --corrupt 1: one expected count (sync) or fingerprint (query)
    is deliberately wrong, so the run must report failed > 0 and a
    check.fail_frac above 0, and print exactly the per-layer metrics.

Exits 0 when every check holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, corrupt):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", trace,
           "--scale", "tiny", "--corrupt", corrupt]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if out.returncode != 0:
        return None
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {"0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace, corrupt in (("0", "0"), ("1", "1")):
            tag = f"{w} trace={trace} corrupt={corrupt}"
            r = run(w, trace, corrupt)
            if r is None:
                problems.append(f"{tag}: no result")
                continue
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{tag}: metrics differ: missing "
                                f"{sorted(set(want[trace]) - set(got))}, extra "
                                f"{sorted(set(got) - set(want[trace]))}, units "
                                f"{sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])}")
            if corrupt == "0" and not (r["correct"] and r["failed"] == 0):
                problems.append(f"{tag}: expected a correct run, got {r['failed']} failed")
            if corrupt == "1" and not (r["failed"] > 0 and not r["correct"]
                                       and r["metrics"]["check.fail_frac"]["value"] > 0):
                problems.append(f"{tag}: the wrong expectation went unnoticed")
            print(f"{tag}: attempted={r['attempted']} failed={r['failed']}", flush=True)
    for p in problems:
        print(f"FAIL {p}")
    print("selftest", "failed" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
