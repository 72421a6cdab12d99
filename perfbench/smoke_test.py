#!/usr/bin/env python3
"""Smoke test of the benchmark: runs every workload of BENCHMARK.json
for one second, untraced and traced, and checks that the last stdout
line parses, that its outputs passed their checks, and that it reports
every metric BENCHMARK.json names, with its unit. Exits 1 on a failure.

    python3 perfbench/smoke_test.py      (from the root of the checkout)
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            wanted = spec["per_layer" if trace else "end_to_end"]
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "7",
                                     "--seconds", "1", "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            what = f"{w['name']} --trace {trace}"
            if p.returncode != 0:
                bad.append(f"{what}: exit {p.returncode}: {p.stderr[-500:]}")
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            if sorted(r) != ["attempted", "correct", "failed", "metrics"]:
                bad.append(f"{what}: keys {sorted(r)}")
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                bad.append(f"{what}: correct={r['correct']} failed={r['failed']} "
                           f"attempted={r['attempted']}")
            for m in wanted:
                got = r["metrics"].get(m["name"])
                if not got or got["unit"] != m["unit"] or \
                        not isinstance(got["value"], (int, float)):
                    bad.append(f"{what}: metric {m['name']} missing or malformed: {got}")
            if set(r["metrics"]) != {m["name"] for m in wanted}:
                bad.append(f"{what}: metric names differ from BENCHMARK.json")
            print(f"{what}: {len(r['metrics'])} metrics, attempted {r['attempted']}",
                  flush=True)
    for b in bad:
        print("FAIL", b)
    print("smoke test", "FAILED" if bad else "passed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
