#!/usr/bin/env python3
"""Tiny-size smoke test of the trck benchmark.

Runs every workload at ~200 trails, untraced and traced, and checks that
each run exits 0, that its last stdout line is JSON with every metric
BENCHMARK.json names (with its unit), that no operation failed, and that
the perftest1 match calls stay within the reference's N+1 bound: at most
N+1 FSM runs per trail for the N distinct foreach values present in it
(match_traildb.c:596-608).

Usage, from the repository root:  python3 trckperf/smoke_test.py
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 3
PERFTEST1_TRAILS = 200
SCALE = PERFTEST1_TRAILS / 3000  # perftest1 runs 3000 trails at scale 1


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "2", "--trace", str(trace),
           "--scale", repr(SCALE)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def perftest1_bound():
    """Σ (N+1) over the perftest1 trails the smoke run generates."""
    base = (SEED % 1000000) * PERFTEST1_TRAILS
    return sum(min((c + 1) % 100 + 1, 100) + 1 for c in range(base, base + PERFTEST1_TRAILS))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    # prepared_mix runs outside BENCHMARK.json's set (see README), but here too
    workloads = [x["name"] for x in bench["workloads"]]
    for w in workloads + [x for x in ("prepared_mix",) if x not in workloads]:
        for trace in (0, 1):
            r = run(w, trace)
            tag = f"{w} trace={trace}"
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: keys {sorted(r)}")
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{tag}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != wanted[trace]:
                problems.append(f"{tag}: metrics {got} != {wanted[trace]}")
            if w == "perftest1" and trace == 1:
                calls = r["metrics"]["trck.match_calls"]["value"]
                bound = perftest1_bound()
                print(f"perftest1: {calls:.0f} match calls, N+1 bound {bound} "
                      f"({calls / PERFTEST1_TRAILS:.2f} vs {bound / PERFTEST1_TRAILS:.2f} per trail)")
                if calls > bound:
                    problems.append(f"perftest1: {calls:.0f} match calls exceed the N+1 bound {bound}")
            print(f"{tag}: {r['attempted']} ops, {r['failed']} failed")
    for p in problems:
        print("FAIL", p)
    if problems:
        sys.exit(1)
    print("smoke test passed")


if __name__ == "__main__":
    main()
