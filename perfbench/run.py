#!/usr/bin/env python3
"""Run one workload of the graft lake benchmark and print its result.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds graft and the benchmark from source
with sbt (graft's own build plus perfbench/build.sbt) into .bench_build/;
later runs reuse the build while the sources are unchanged. The run itself
is one JVM (perfbench.Main) started without sbt. Its stdout ends with a
provenance line and then the result object, which this script checks and
prints as its own last line. Everything the run writes stays under
.bench_build/ and is deleted when the run ends, except the traced run's
span file (.bench_build/traces/).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800

# graft's build.sbt passes these to every JVM it forks; Spark needs them on
# JDK 17 when it is not started through spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# the child process group (sbt or the benchmark JVM) to stop, and the run's
# work directory to delete, if this script is stopped
CHILD = None
WORK = None


def stop_child(signum, _frame):
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
    if WORK is not None:
        shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout.
    Returns (returncode, stdout) or None on timeout."""
    global CHILD
    CHILD = subprocess.Popen(cmd, start_new_session=True,
                             stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = CHILD.communicate(timeout=timeout)
        return CHILD.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
        return None
    finally:
        CHILD = None


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: graft's build and main sources, and the
    benchmark's own build and sources."""
    files = [os.path.join(ROOT, "build.sbt")]
    for base in (os.path.join(ROOT, "project"),
                 os.path.join(BENCH_DIR, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    files.append(os.path.join(BENCH_DIR, "build.sbt"))
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(BENCH_DIR, "src")):
        for d, dirs, fs in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(stamp):
    """Build with sbt unless the classpath of this exact source is there."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as f2:
                    return f2.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    for f in (cp_file, stamp_file):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        r = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       f"writeClasspath {cp_file}"], BUILD_LIMIT_S,
                      cwd=BENCH_DIR, env=env, stdout=log,
                      stderr=subprocess.STDOUT)
    if r is None:
        fail(3, f"build timed out after {BUILD_LIMIT_S}s (see {log_path})")
    if r[0] != 0 or not os.path.exists(cp_file):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(3, f"build failed (see {log_path})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def git_rev():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "unknown"


def check_result(line, spec, traced):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    want = [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]
    got = list(res["metrics"])
    if sorted(got) != sorted(want):
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        raise ValueError(f"metrics differ from BENCHMARK.json: "
                         f"missing {missing}, extra {extra}")
    if not traced:
        for name, m in res["metrics"].items():
            if not isinstance(m["value"], (int, float)) or m["value"] <= 0:
                raise ValueError(f"end-to-end metric {name} is {m['value']}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("nothing attempted")
    return res


def main():
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in (spec_path, os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            fail(2, f"{os.path.relpath(need, ROOT)} not found: run this "
                    "from the root of a graft checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(2, f"unknown workload {a.workload}; one of {names}")

    stamp = source_stamp()
    cp = build(stamp)
    rev = git_rev()
    if rev == "unknown":
        rev = "source-sha256:" + stamp[:16]

    global WORK
    tag = f"{a.workload}-{a.seed}-{'traced' if a.trace else 'untraced'}"
    work = WORK = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{tag}.log")

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--rev", rev]
    with open(log_path, "w") as log:
        r = run_child(cmd, RUN_LIMIT_S, cwd=work, stdout=subprocess.PIPE,
                      stderr=log, text=True)
    if r is None:
        shutil.rmtree(work, ignore_errors=True)
        fail(4, f"run exceeded {RUN_LIMIT_S}s (log: {log_path})")
    code, out = r
    try:
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(work, "spans.json")
            if os.path.exists(spans):
                shutil.move(spans, os.path.join(traces, f"{tag}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or len(lines) < 2:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail(5, f"benchmark JVM exited {code} without a result "
                f"(log: {log_path})")
    try:
        res = check_result(lines[-1], spec, bool(a.trace))
    except (ValueError, KeyError, TypeError) as e:
        fail(6, f"malformed result: {e}\n{lines[-1]}")
    print(lines[-2])
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
