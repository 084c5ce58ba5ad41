"""Self-test of the benchmark at tiny sizes (about five minutes).

    python3 perfbench/selftest.py

For each workload, runs ``run.py --tiny`` untraced and traced and
checks that:

- the run exits 0 and its last stdout line is the result object with
  exactly ``correct``, ``attempted``, ``failed`` and ``metrics``;
- every metric BENCHMARK.json names is printed, with its unit, and no
  other; end-to-end values are non-zero numbers;
- every operation and output check passed;
- the traced copy of ``pipeline.run``'s steps matched ``pipeline.run``'s
  row and file counts on the same input;
- no process the run started outlives it: this process is made the
  reaper of orphans, so anything left behind, alive or zombie, would
  still be found below it.

Then runs ``run.py`` from a directory holding only BENCHMARK.json and
perfbench/, where it must fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import uuid

import machine

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600)
    left = machine.descendants(os.getpid())
    if left:
        out.stderr += f"\nleft {len(left)} processes running: {left}"
        out.returncode = out.returncode or 99
        machine.kill_and_reap()
    return out


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    out = _run(ROOT, "--workload", workload, "--seed", "7",
               "--seconds", "1", "--trace", str(trace), "--tiny")
    if out.returncode != 0:
        return [f"exit {out.returncode}: {out.stderr[-2000:]}"]
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if not (res["correct"] and res["failed"] == 0 and res["attempted"] > 0):
        problems.append(f"operations failed: {res['failed']} of "
                        f"{res['attempted']}: {out.stderr[-2000:]}")
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in res["metrics"].items()}
    if got != want:
        problems.append(f"metrics/units differ: printed {got}, "
                        f"named {want}")
    for k, v in res["metrics"].items():
        if not isinstance(v.get("value"), (int, float)):
            problems.append(f"{k} value {v.get('value')!r}")
        elif not trace and v["value"] == 0:
            problems.append(f"{k} is 0")
    if trace and not any(line.startswith("steps: traced copy matches")
                         for line in lines):
        problems.append("traced copy did not match pipeline.run")
    return problems


def check_bare_dir() -> list[str]:
    """Without the package next to it the benchmark must exit non-zero
    and print no result."""
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{uuid.uuid4().hex}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        out = _run(bare, "--workload", "bulk_ingest", "--seed", "1",
                   "--seconds", "1", "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if out.returncode == 0 or '"metrics"' in out.stdout:
        return [f"bare dir: exit {out.returncode}, stdout {out.stdout!r}"]
    return []


def main() -> int:
    machine.set_subreaper()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = 0
    for w in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            problems = check_run(spec, w, trace)
            failures += bool(problems)
            print(f"{w} trace={trace}: "
                  + ("ok" if not problems else "; ".join(problems)),
                  flush=True)
    problems = check_bare_dir()
    failures += bool(problems)
    print("bare dir: " + ("ok" if not problems else "; ".join(problems)))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
