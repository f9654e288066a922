#!/usr/bin/env python3
"""Side-by-side count metrics of two traced lake-benchmark runs.

Usage: python3 scripts/countdiff.py <parent-result> <change-result>

Each argument is a file holding the last stdout line of
`python3 perfbench/run.py --trace 1 ...` (the result object; a file with
the whole stdout works too, its last non-empty line is read). Prints the
count metrics of both runs side by side: the `spark.*` counts, `lake.*`,
`ann.*` (timings left out), `plan.chunks`, `scan.files_read` and every
`fs.*`. Exits 1 when a count the benchmark's determinism self-check
treats as stable (its STABLE counts and every fs.* call count) rose, or
when fs.bytes_written grew by more than its BYTES_TOLERANCE; both are
imported from perfbench/test/check_determinism.py so the rule has one
definition. Other printed counts that rose are marked but do not fail.
"""
import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def determinism_rule():
    path = os.path.join(ROOT, "perfbench", "test", "check_determinism.py")
    spec = importlib.util.spec_from_file_location("check_determinism", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.STABLE, mod.BYTES_TOLERANCE


def load(path):
    with open(path) as f:
        last = [l for l in f.read().splitlines() if l.strip()][-1]
    return json.loads(last)["metrics"]


def shown(name, unit):
    if name.startswith("fs.") or name in ("plan.chunks", "scan.files_read"):
        return True
    if name.startswith("spark."):
        return unit == "count"
    return name.startswith(("lake.", "ann.")) and unit != "s"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.split("\n\n")[1])
    stable, tolerance = determinism_rule()
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    bad = 0
    for name, m in parent.items():
        if not shown(name, m["unit"]) or name not in change:
            continue
        a, b = m["value"], change[name]["value"]
        gated = name in stable or name.startswith("fs.")
        if name == "fs.bytes_written":
            worse = b > a * (1 + tolerance)
        else:
            worse = m["unit"] == "count" and b > a
        bad += gated and worse
        mark = ("  ROSE" if gated else "  rose (not gated)") if worse else ""
        print(f"{name:36s} {a:>14.12g} {b:>14.12g}{mark}")
    print("no gated count rose" if bad == 0 else f"{bad} gated counts rose")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
