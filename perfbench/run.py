#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_upsert --seed 1 --seconds 15 --trace 0

Builds the program from source if needed (perfbench/build.py), then runs
one workload in a fresh JVM started with plain `java -cp` over the
compiled classes: fixed heap, local Spark with at most 4 task threads,
fixed shuffle partitions, no UI, logs at WARN. Everything the run writes
lives under .bench_build/ and is removed when the run ends (traces of
traced runs are kept in .bench_build/traces/).

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The line before
it, starting with `detail`, holds each operation type's counts and
medians and the workload's own named metrics (see README.md).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest_upsert", "corpus_curate")
RUN_TIMEOUT_S = 165
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpu_ticks():
    """The host's aggregate CPU tick counters, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def host_line(before, after):
    """Share of CPU time the hypervisor stole during the run, and the
    mean number of busy cores: a run on a contended host shows here."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    idle = d[3] + d[4]
    return {"steal_pct": 100.0 * d[7] / total,
            "busy_share": (total - idle - d[7]) / total}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    work = build.OUT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch", "-Xss8m",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", str(work)])
    ticks = cpu_ticks()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        print(f"perfbench: JVM exited with {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1
    for ln in lines[:-1]:
        print(ln)
    host = host_line(ticks, cpu_ticks())
    if host:
        print("host " + json.dumps(host))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
