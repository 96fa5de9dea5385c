#!/usr/bin/env python3
"""Run one workload on several seeds and report, per metric, the median
and the quartile spread (Q3 - Q1) / median.

    python3 perfbench/spread.py --workload floor_mix --seeds 1-10 --seconds 15

Run from the repository root; each run is a separate ``run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="15")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for s in seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(s), "--seconds", args.seconds,
             "--trace", args.trace],
            capture_output=True, text=True)
        took = time.perf_counter() - t0
        last = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {s}: rc={out.returncode} {took:.0f}s "
              f"failed={last['failed']}/{last['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()),
              flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k}: median {med:.4g} spread {spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
