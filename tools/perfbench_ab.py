"""Alternating A/B of perfbench between two checkouts.

    python tools/perfbench_ab.py --parent DIR --change DIR \
        --workload bulk_ingest --seed 1 --pairs 10

Runs ``perfbench/run.py --trace 0`` in the parent and the change
checkout, one run at a time, ``--pairs`` times each; the side that runs
first alternates from pair to pair, so drift in the machine's speed
loads both sides alike.  ``--seconds`` is ``run_seconds`` from
``BENCHMARK.json``, and the metrics, their ``better`` direction and
their ``bound`` are its ``end_to_end`` list.

Prints one line per run (its end-to-end values and ``cpu_steal_share``),
then one row per metric: each side's median and quartiles, the pairs
the change wins and ties, and a verdict against the bound.  The verdict
is ``worse`` when the change's median is worse than the parent's by
more than the bound (a fraction of the parent's median), ``unresolved``
when the parent's own quartile spread is wider than the bound and not
every change run reads better than every parent run, ``ok`` otherwise.
``gain`` marks a metric the change improves in at least nine tenths of
the pairs by more than the parent's quartile spread.  The last line is
the whole result as JSON.  Exits 1 if any run is not ``correct``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def load_benchmark(checkout: str) -> dict:
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout: str, bench: dict, workload: str, seed: int) -> dict:
    """One untraced perfbench run: {"correct", "metrics", "steal"}."""
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    steal = None
    for line in lines:
        if line.startswith("machine: "):
            steal = json.loads(line[len("machine: "):])["cpu_steal_share"]
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-2000:])
        return {"correct": False, "metrics": {}, "steal": steal,
                "exit": p.returncode}
    return {"correct": p.returncode == 0 and bool(result["correct"]),
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "steal": steal, "exit": p.returncode}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def compare(metric: dict, pairs: list[tuple[dict, dict]]) -> dict | None:
    """One metric's row; ``pairs`` holds (parent run, change run)."""
    name, lower = metric["name"], metric["better"] == "lower"
    got = [(a["metrics"][name], b["metrics"][name]) for a, b in pairs
           if name in a["metrics"] and name in b["metrics"]]
    if not got:
        return None
    par, chg = [a for a, _ in got], [b for _, b in got]
    pq, cq = quartiles(par), quartiles(chg)

    def better(x, y):
        return x < y if lower else x > y

    wins = sum(better(b, a) for a, b in got)
    ties = sum(a == b for a, b in got)
    base = abs(pq[1]) or 1.0
    worse_by = (cq[1] - pq[1] if lower else pq[1] - cq[1]) / base
    spread = (pq[2] - pq[0]) / base
    all_better = all(better(b, a) for b in chg for a in par)
    if worse_by > metric["bound"]:
        verdict = "worse"
    elif spread > metric["bound"] and not all_better:
        verdict = "unresolved"
    else:
        verdict = "ok"
    gain = (wins >= 0.9 * len(got)
            and -worse_by * base > pq[2] - pq[0])
    return {"metric": name, "pairs": len(got), "parent": pq, "change": cq,
            "wins": wins, "ties": ties, "worse_by": worse_by,
            "parent_spread": spread, "bound": metric["bound"],
            "verdict": verdict, "gain": gain}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, required=True)
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")

    bench = load_benchmark(args.change)
    if load_benchmark(args.parent) != bench:
        print("perfbench_ab: the checkouts' BENCHMARK.json differ",
              file=sys.stderr)
        return 2
    sides = {"parent": args.parent, "change": args.change}
    pairs = []
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {}
        for side in order:
            r = run_once(sides[side], bench, args.workload, args.seed)
            pair[side] = r
            print(f"pair {i + 1} {side}: correct={r['correct']} "
                  f"steal={r['steal']} "
                  + json.dumps({k: round(v, 4)
                                for k, v in r["metrics"].items()}),
                  flush=True)
        pairs.append((pair["parent"], pair["change"]))

    rows = [r for m in bench["end_to_end"]
            if (r := compare(m, pairs)) is not None]
    print(f"\n{args.workload} seed {args.seed}, {args.pairs} pairs, "
          f"--seconds {bench['run_seconds']}; parent/change: "
          "q1 median q3")
    for r in rows:
        p, c = r["parent"], r["change"]
        print(f"{r['metric']:<28} {p[0]:>9.4g} {p[1]:>9.4g} {p[2]:>9.4g}"
              f"  | {c[0]:>9.4g} {c[1]:>9.4g} {c[2]:>9.4g}"
              f"  wins {r['wins']}/{r['pairs']} ties {r['ties']}"
              f"  worse_by {r['worse_by']:+.3f} (bound {r['bound']})"
              f"  {r['verdict']}{'  gain' if r['gain'] else ''}")
    ok = all(a["correct"] and b["correct"] for a, b in pairs)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "all_correct": ok, "metrics": rows,
                      "runs": [{"parent": a, "change": b}
                               for a, b in pairs]}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
