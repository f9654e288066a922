#!/usr/bin/env python3
"""Count-determinism self-check of the lake benchmark.

Runs the traced run of each workload twice with the same seed on the same
machine and requires identical values for the counts host throttling
cannot move: spark.jobs, spark.tasks, every fs.* call count, lake.commits,
plan.chunks and scan.files_read. fs.bytes_written may differ by
BYTES_TOLERANCE of its value: the program writes wall-clock instants into
what it stores (manifest commit times, watermark-store update times), and
parquet encodes those in a few bytes more or less. Prints each compared
count side by side, then the tracing overhead: the traced run's median op
latency minus that of one untraced cycle of the same seed. Exits 1 on any
difference.

Usage, from the root of a graft checkout:

    python3 perfbench/test/check_determinism.py [--seed N] [workload ...]
"""
import argparse
import json
import os
import subprocess
import sys

STABLE = ("spark.jobs", "spark.tasks", "lake.commits", "plan.chunks",
          "scan.files_read")
BYTES_TOLERANCE = 0.001


def run(workload, seed, trace):
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace)], capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload}: run failed ({p.returncode})")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload}: run failed its output check")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    bad = 0
    for w in a.workloads:
        first, second = run(w, a.seed, 1), run(w, a.seed, 1)
        keys = [k for k in first if k in STABLE or k.startswith("fs.")]
        for k in keys:
            if k == "fs.bytes_written":
                same = abs(first[k] - second[k]) <= BYTES_TOLERANCE * first[k]
            else:
                same = first[k] == second[k]
            bad += not same
            print(f"{w:20s} {k:28s} {first[k]:>14g} {second[k]:>14g}"
                  f"{'' if same else '  DIFFERS'}")
        plain = run(w, a.seed, 0)["latency_p50_s"]
        print(f"{w:20s} tracing overhead on the median op: "
              f"{first['trace.latency_p50_s'] - plain:+.3f} s "
              f"(untraced {plain:.3f} s)")
    print("deterministic" if bad == 0 else f"{bad} counts differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
