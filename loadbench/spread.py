#!/usr/bin/env python3
"""Run one workload at several seeds and report each metric's run-to-run spread.

    python3 loadbench/spread.py --workload table_cdc --seeds 1-10 --seconds 8

For every end-to-end metric it prints the median over the runs, the first
and third quartile (Python's statistics.quantiles, n=4) and the spread
(Q3 - Q1) / median, the figure BENCHMARK.json's bounds are judged against.
It also prints each run's wall time, load average and failures.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()

    values = {}
    for s in seeds(a.seeds):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", a.seconds, "--trace", a.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        lines = [l for l in r.stdout.splitlines() if l.strip()]
        if r.returncode != 0 or len(lines) < 2:
            print(f"seed {s}: exit {r.returncode}, no result", flush=True)
            continue
        detail = json.loads(lines[-2])["detail"]
        result = json.loads(lines[-1])
        c = detail["conditions"]
        print(f"seed {s}: wall {wall:.0f} s, load {c['load1_start']:.2f}->{c['load1_end']:.2f}, "
              f"correct {result['correct']}, failed {result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={v['value']:.6g}" for k, v in result["metrics"].items()
                         if a.trace == "0"), flush=True)
        for f in detail["failures"]:
            print(f"  failure: {f}")
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    for k, xs in values.items():
        if len(xs) < 2:
            continue
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        sp = (q3 - q1) / med if med else float("nan")
        print(f"{k:34s} n={len(xs):2d} median={med:.6g} q1={q1:.6g} q3={q3:.6g} spread={sp:.4f}")


if __name__ == "__main__":
    main()
