#!/usr/bin/env python3
"""Fast self-test of the benchmark: runs every workload of BENCHMARK.json
once on the sf0.001 tier, untraced and traced, and asserts that each run
prints a well-formed result line that is correct and carries every named
metric with its unit.

Usage (from the root of a checkout): python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in bench["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = bench["command"] + [
                "--workload", w["name"], "--seed", "1", "--seconds", "0",
                "--trace", str(trace), "--small"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            tag = f"{w['name']} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            r = json.loads(lines[-1])
            if sorted(r) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: keys {sorted(r)}")
            if not r.get("correct") or r.get("attempted", 0) < 1:
                problems.append(f"{tag}: not correct: {p.stderr[-2000:]}")
            want = {m["name"]: m["unit"] for m in bench[kind]}
            got = {k: v.get("unit") for k, v in r["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics differ: missing "
                                f"{sorted(set(want) - set(got))}, extra "
                                f"{sorted(set(got) - set(want))}, units "
                                f"{[k for k in want if got.get(k) not in (None, want[k])]}")
            print(f"ok {tag}" if not problems or not problems[-1].startswith(tag)
                  else f"FAIL {tag}", flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
