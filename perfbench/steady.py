#!/usr/bin/env python3
"""Steadiness mode: run one workload N times, one seed each, and print
every metric's median, quartiles and relative spread (interquartile
distance over the median) beside its bound from ``BENCHMARK.json``.

    python3 perfbench/steady.py --workload big_state --runs 10 --seed 1

Runs go one after another, each in its own process, from the repository
root. Use it to set bounds: a metric is steady when its spread stays
below a third of its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import quartiles, rel_spread  # noqa: E402


def load_spec() -> dict:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}")
    res = json.loads(lines[-1])
    for line in lines:
        if "load walls" in line or "phases" in line:
            print(f"  {line}")
        # the loads in seconds, printed beside the bounded ratios
        words = line.split()
        if len(words) == 5 and words[0] == "#" and words[2] == "=" and words[4] == "s":
            res["metrics"][words[1]] = {"value": float(words[3]), "unit": "s"}
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed; run i uses seed + i")
    spec = load_spec()
    ap.add_argument("--seconds", type=float, default=spec.get("run_seconds", 10))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in spec.get("end_to_end", [])}
    values: dict = {}
    for i in range(args.runs):
        t0 = time.perf_counter()
        res = run_once(args.workload, args.seed + i, args.seconds, args.trace)
        print(f"seed {args.seed + i}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} wall={time.perf_counter() - t0:.1f}s", flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"{'metric':34s} {'q1':>12s} {'median':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for name, xs in values.items():
        q1, q2, q3 = quartiles(xs)
        b = bounds.get(name)
        flag = "" if b is None else (" ok" if rel_spread(xs) < b / 3 else " WIDE")
        print(f"{name:34s} {q1:12.5f} {q2:12.5f} {q3:12.5f} {rel_spread(xs):8.3f} "
              f"{'' if b is None else b:>6}{flag}")
    print(json.dumps({"workload": args.workload, "seeds": [args.seed + i for i in range(args.runs)],
                      "values": values}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
