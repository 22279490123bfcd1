#!/usr/bin/env python3
"""Steadiness check: runs one workload N times, each with another seed,
and prints for every end-to-end metric the median, the quartiles, the
quartile spread (Q3 - Q1) / median and the widest spread (max - min) /
median, against the metric's bound in BENCHMARK.json. The workload's own
named metrics from the `detail` line are summarised the same way, with no
bound. Also checks that the share of failed operations is the same in
every run. Each run's standard output is kept in .bench_build/steady/.

    python3 perfbench/steady.py --workload corpus_curate --runs 5
    python3 perfbench/steady.py --workload all --runs 10 --first-seed 100

Exits 1 when a quartile spread exceeds its bound, a run fails, or the
failed share differs between runs.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from fractions import Fraction
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one_run(spec, workload, seed, seconds, trace=0):
    cmd = list(spec["command"]) + ["--workload", workload, "--seed", str(seed),
                                   "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    out = ROOT / ".bench_build" / "steady"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{workload}-seed{seed}-trace{trace}.txt").write_text(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {r.returncode}")
    detail = {}
    for ln in lines:
        if ln.startswith("detail "):
            detail = json.loads(ln[len("detail "):])
    return json.loads(lines[-1]), detail


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return m, q1, q3, (q3 - q1) / m, (max(values) - min(values)) / m


def check(spec, workload, runs, first_seed):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    results = []
    for i in range(runs):
        t0 = time.time()
        res, det = one_run(spec, workload, first_seed + i, spec["run_seconds"])
        results.append((res, det))
        print(f"  seed {first_seed + i} ({time.time() - t0:.0f} s): correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    ok = all(r["correct"] for r, _ in results)
    shares = {Fraction(r["failed"], r["attempted"]) for r, _ in results}
    if len(shares) != 1:
        ok = False
    print(f"{workload}: failed share per run {sorted(str(s) for s in shares)}")
    print(f"  {'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} "
          f"{'range/med':>9} {'bound':>6}")
    for name, bound in bounds.items():
        m, q1, q3, iqr, rng = spread([r["metrics"][name]["value"] for r, _ in results])
        flag = "" if iqr <= bound else "  OVER BOUND"
        if iqr > bound:
            ok = False
        print(f"  {name:28} {m:12.6g} {q1:12.6g} {q3:12.6g} {iqr:8.4f} {rng:9.4f} {bound:6.3f}{flag}")
    numeric = sorted(k for k, v in results[0][1].items()
                     if isinstance(v, (int, float)) and not isinstance(v, bool)
                     and k not in ("seed", "checks_passed", "checks_failed"))
    for name in numeric:
        vals = [d[name] for _, d in results if name in d]
        if len(vals) == runs:
            m, q1, q3, iqr, rng = spread(vals)
            print(f"  {name:28} {m:12.6g} {q1:12.6g} {q3:12.6g} {iqr:8.4f} {rng:9.4f}   (detail)")
    return ok


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=names + ["all"])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    ok = True
    for w in (names if a.workload == "all" else [a.workload]):
        ok = check(spec, w, a.runs, a.first_seed) and ok
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
