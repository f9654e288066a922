#!/usr/bin/env python3
"""Spark jobs per graft call site, from a Spark event log.

Usage: python3 scripts/jobsites.py <event-log>

<event-log> is an uncompressed Spark event log (JSON lines), or the
directory of a rolling one (`eventlog_v2_*`, parts read in order). For each
call site it prints the job count, the summed job seconds (submission to
completion) and the summed driver gap before each job: the time from the
latest completion of an earlier job to this job's submission, the driver
work between jobs.

A job's call site is the first `graft.` frame of its result stage's
details. Jobs that AQE starts for its query stages run on another thread
(call site `withThreadLocalCaptured`); they are attributed to the root of
their SQL execution (`spark.sql.execution.root.id`), whose start event
carries the call site of the action that ran it. Jobs with the
`perfbench.ignore` property (the benchmark's own bookkeeping) are skipped.

To record an event log from a lake-benchmark run without touching the
benchmark, pass Spark the settings through the JVM:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=file:///tmp/ev -Dspark.eventLog.compress=false" \\
      python3 perfbench/run.py --workload ingest_incremental --seed 7 \\
      --seconds 5 --trace 1
    python3 scripts/jobsites.py /tmp/ev/eventlog_v2_local-*
"""
import json
import os
import re
import sys
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def graft_frame(details):
    for line in (details or "").splitlines():
        line = line.strip()
        if line.startswith("graft."):
            return line
    return None


def event_lines(path):
    if not os.path.isdir(path):
        parts = [path]
    else:
        parts = sorted((p for p in os.listdir(path) if p.startswith("events_")),
                       key=lambda p: int(re.match(r"events_(\d+)_", p).group(1)))
        parts = [os.path.join(path, p) for p in parts]
    for part in parts:
        with open(part) as f:
            yield from f


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.split("\n\n")[1])
    starts, ends, exec_site = [], {}, {}
    for line in event_lines(sys.argv[1]):
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            starts.append(e)
        elif kind == "SparkListenerJobEnd":
            ends[e["Job ID"]] = e["Completion Time"]
        elif kind == SQL_START:
            exec_site[e["executionId"]] = graft_frame(e.get("details"))

    rows = defaultdict(lambda: [0, 0.0, 0.0])
    done = []  # completion times of jobs submitted earlier
    for e in sorted(starts, key=lambda s: s["Submission Time"]):
        submitted = e["Submission Time"]
        prior = [t for t in done if t <= submitted]
        gap = (submitted - max(prior)) / 1e3 if prior else 0.0
        end = ends.get(e["Job ID"], submitted)
        done.append(end)
        props = e.get("Properties") or {}
        if "perfbench.ignore" in props:
            continue
        result = max(e["Stage Infos"], key=lambda s: s["Stage ID"])
        site = graft_frame(result.get("Details"))
        if site is None:
            root = props.get("spark.sql.execution.root.id",
                             props.get("spark.sql.execution.id"))
            if root is not None:
                site = exec_site.get(int(root))
        r = rows[site or "(no graft frame)"]
        r[0] += 1
        r[1] += (end - submitted) / 1e3
        r[2] += gap

    total = [sum(r[i] for r in rows.values()) for i in range(3)]
    print(f"{'jobs':>5} {'job_s':>8} {'gap_s':>8}  call site")
    for site, r in sorted(rows.items(), key=lambda kv: -(kv[1][1] + kv[1][2])):
        print(f"{r[0]:>5} {r[1]:>8.3f} {r[2]:>8.3f}  {site}")
    print(f"{total[0]:>5} {total[1]:>8.3f} {total[2]:>8.3f}  total")


if __name__ == "__main__":
    main()
