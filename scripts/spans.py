#!/usr/bin/env python3
"""Per-span-name totals of a traced lake-benchmark run.

Usage: python3 scripts/spans.py <trace.json> [--op N]

<trace.json> is the span file a traced run leaves behind
(`.bench_build/traces/<workload>-<seed>-traced.json`): one record per span
with its id, parent span id, name, op index, start/end instants and the
counts attributed to it alone (jobs, tasks, fs_* calls; a child span's
counts are its own). For each span name this prints the span count, total
seconds, self seconds (each span's duration minus the spans whose parent
it is), jobs, tasks and every fs_* count, sorted by self seconds. `--op N`
keeps only the spans of timed operation N.
"""
import argparse
import json
from collections import defaultdict


def main():
    ap = argparse.ArgumentParser(
        description="per-span-name totals of a traced lake-benchmark run")
    ap.add_argument("trace")
    ap.add_argument("--op", type=int)
    a = ap.parse_args()
    with open(a.trace) as f:
        spans = json.load(f)

    def secs(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    child_s = defaultdict(float)
    for s in spans:
        child_s[s["parent"]] += secs(s)
    kept = [s for s in spans if a.op is None or s["op"] == a.op]
    fs_keys = sorted({k for s in kept for k in s if k.startswith("fs_")})
    rows = defaultdict(lambda: defaultdict(float))
    for s in kept:
        r = rows[s["name"]]
        r["count"] += 1
        r["total_s"] += secs(s)
        r["self_s"] += secs(s) - child_s[s["id"]]
        for k in ["jobs", "tasks"] + fs_keys:
            r[k] += s.get(k, 0)

    cols = ["count", "total_s", "self_s", "jobs", "tasks"] + fs_keys
    width = max([len("span")] + [len(n) for n in rows])
    print(f"{'span':<{width}} " + " ".join(f"{c:>9}" for c in cols))
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        cells = [f"{r[c]:9.3f}" if c.endswith("_s") else f"{int(r[c]):9d}"
                 for c in cols]
        print(f"{name:<{width}} " + " ".join(cells))


if __name__ == "__main__":
    main()
