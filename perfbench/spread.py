"""Run one workload over several seeds and report each metric's median
and its spread: the distance between the first and third quartile as a
share of the median, the figure BENCHMARK.json's bounds are set against.

    python3 perfbench/spread.py --workload serve_mixed --seeds 1-10 \
        [--seconds 10] [--trace 0]

Runs are sequential; never run two Spark benchmarks at once.
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


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    walls = []
    for seed in _seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}")
            continue
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        steal = next(json.loads(ln[len("machine: "):])["cpu_steal_share"]
                     for ln in lines if ln.startswith("machine: "))
        print(f"seed {seed}: {walls[-1]:.0f}s steal={steal:.3f} "
              f"correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f}s, "
          f"max {max(walls):.1f}s")
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) < 2:
            continue
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:32s} median {med:12.4f}  spread {spread:.3f}  n={len(vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
