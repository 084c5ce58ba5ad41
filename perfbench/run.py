"""spark-kg benchmark: one workload, one seed, one Spark process.

    python3 perfbench/run.py --workload bulk_ingest|serve_mixed \
        --seed N --seconds S --trace 0|1 [--tiny]

Builds the workload's fixture pages from the seed, writes them as
parquet, and drives the package's public entry points on them at
``local[nproc]`` with one client in a closed loop.  The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1``).  The lines before it record the machine and
the samples.  See perfbench/README.md for what each metric means.

The command supervises the run: the run itself is a child process, and
when it ends (or after ``RUN_TIMEOUT_S``, or on a signal) every process
it left behind is killed and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# workload sizes (pages); --tiny shrinks them for the self-test
SIZES = {
    "full": {"bulk": 20, "prior": 20, "new": 4, "changed": 2,
             "unchanged": 2},
    "tiny": {"bulk": 12, "prior": 12, "new": 2, "changed": 1,
             "unchanged": 1},
}
MAX_ITERS = 8
# pages of the bulk_ingest warm-up commit (all four page families)
WARMUP_PAGES = 10

E2E = {
    "setup_s": "s",
    "ingest_docs_per_s": "docs/s",
    "commit_s": "s",
    "query_mix_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}
LAYERS = {
    "session.start_s": "s",
    "checkpoint.pending_s": "s",
    "checkpoint.skip_ratio": "ratio",
    "checkpoint.entries_append_s": "s",
    "pipeline.batch_id_s": "s",
    "extract.kernel_s": "s",
    "extract.docs": "count",
    "extract.quarantined": "count",
    "triples.lift_s": "s",
    "pipeline.triple_write_s": "s",
    "pipeline.triple_files": "count",
    "pipeline.triple_bytes": "bytes",
    "canonicalize.relate_s": "s",
    "canonicalize.dependency_rows": "count",
    "pipeline.log_files": "count",
    "pipeline.view_s": "s",
    "sparql.compile_s": "s",
    "sparql.select_s": "s",
    "sparql.path_s": "s",
    "api.facet_s": "s",
    "pipeline.unattributed_s": "s",
    "spark.tasks": "count",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_ingest", "serve_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test sizes (perfbench/selftest.py)")
    # set by the supervising process on the run it starts: the run id
    ap.add_argument("--worker", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


class Bench:
    """State of one run: the session, the work dir, the tally of
    operations and the samples."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.size = SIZES["tiny" if args.tiny else "full"]
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.layers: dict[str, float] = {}

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def op(self, what: str, problems: list[str]) -> None:
        """Count one operation; ``problems`` non-empty means it failed."""
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"FAILED {what}: {'; '.join(problems)}", file=sys.stderr)

    def start_spark(self):
        from ferenda_spark.session import get_spark

        self.cores = len(os.sched_getaffinity(0))
        tmp = f"{self.work}/tmp"
        os.makedirs(tmp)
        self.conf = {
            # a fixed heap: its growth does not vary from run to run
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions":
                f"-Xms1g -Djava.io.tmpdir={tmp}",
            "spark.local.dir": f"{self.work}/local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"{self.work}/eventlog",
                # zstd (the default codec) needs a module not installed
                "spark.eventLog.compress": "false",
            })
            os.makedirs(f"{self.work}/eventlog")
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=self.cores,
                          extra_conf=self.conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        return spark


def _bulk_setup(b: Bench, spark, cd):
    """Synthesize the bulk input and commit its first WARMUP_PAGES pages
    through pipeline.run into a graph of their own: the warm-up, so the
    measured commit does not pay JVM and Python-worker start-up."""
    from inputs import fresh_pages, write_pages
    from mix import Mix
    from steps import run_commit

    n = b.size["bulk"]
    rows = fresh_pages(0, n, b.args.seed)
    input_bytes = write_pages(rows, f"{b.work}/in-bulk")
    write_pages(rows[:WARMUP_PAGES], f"{b.work}/in-warm")
    run_commit(spark, spark.read.parquet(f"{b.work}/in-warm"), cd,
               f"{b.work}/warm")
    return rows, input_bytes, Mix(b.args.seed, n)


def _serve_setup(b: Bench, spark, cd):
    """Synthesize and commit the prior graph (its cold commit is the
    warm-up of the pipeline.run path)."""
    from checks import check_commit
    from inputs import ServeBatches, fresh_pages, write_pages
    from mix import Mix
    from steps import run_commit

    s = b.size
    prior = fresh_pages(0, s["prior"], b.args.seed)
    input_bytes = write_pages(prior, f"{b.work}/in-prior")
    c = run_commit(spark, spark.read.parquet(f"{b.work}/in-prior"), cd,
                   f"{b.work}/graph")
    b.op("prior commit", check_commit(f"{b.work}/graph", c, prior))
    batches = ServeBatches(b.args.seed, s["prior"], s["new"], s["changed"],
                           s["unchanged"])
    return batches, input_bytes, Mix(b.args.seed, s["prior"])


def _write_batch(b: Bench, batches, k: int):
    from inputs import write_pages

    offered, expect = batches.batch(k)
    path = f"{b.work}/in-batch-{k}"
    return path, offered, expect, write_pages(offered, path)


def _commit_and_query(b: Bench, spark, cd, mix, tracer, inp: str,
                      offered: int, expect, graph: str):
    """One closed-loop iteration: a pipeline.run commit, then one query
    pass; samples the end-to-end metrics and checks both."""
    from checks import check_commit
    from steps import query_pass, run_commit, tree_size

    c = run_commit(spark, spark.read.parquet(inp), cd, graph)
    b.sample("commit_s", c.wall_s)
    b.sample("ingest_docs_per_s", offered / c.wall_s)
    b.op("commit", check_commit(graph, c, expect))
    t0 = time.perf_counter()
    answers = query_pass(tracer, spark, f"{graph}/triples", mix)
    b.sample("query_mix_s", time.perf_counter() - t0)
    bad = mix.check(answers, mix.oracle(f"{graph}/triples"))
    for name, _, _ in mix.requests:
        b.op(name, ["answer differs from DuckDB"] if name in bad else [])
    return tree_size(graph)[1]


def run_untraced(b: Bench, spark, cd) -> None:
    """The end-to-end measurement: setup, then closed-loop iterations
    until ``--seconds`` of them have been measured."""
    from tracing import Tracer

    off = Tracer("untraced", enabled=False)
    bulk = b.args.workload == "bulk_ingest"
    if bulk:
        rows, input_bytes, mix = _bulk_setup(b, spark, cd)
    else:
        batches, input_bytes, mix = _serve_setup(b, spark, cd)
    b.sample("setup_s", time.perf_counter() - b.t_setup)
    measured, k = 0.0, 0
    while True:
        if bulk:
            # every iteration is a first commit into an empty graph
            inp, offered, expect = f"{b.work}/in-bulk", rows, rows
            graph = f"{b.work}/graph-{k}"
        else:
            inp, offered, expect, nbytes = _write_batch(b, batches, k)
            graph = f"{b.work}/graph"
            input_bytes += nbytes
        t0 = time.perf_counter()
        stored = _commit_and_query(b, spark, cd, mix, off, inp,
                                   len(offered), expect, graph)
        measured += time.perf_counter() - t0
        b.sample("stored_bytes_per_input_byte", stored / input_bytes)
        k += 1
        if (measured >= b.args.seconds or k >= MAX_ITERS
                or (not bulk and k >= batches.max_batches)):
            break


def run_traced(b: Bench, spark, cd, tracer) -> None:
    """The per-layer split: an untraced ``pipeline.run`` commit and the
    traced copy of its steps on the same input and the same prior graph,
    then one traced query pass over the result.  Both follow the same
    commit made once into a throwaway copy, so neither pays the cold
    start or the first compilation of this commit's plans."""
    from checks import check_commit
    from steps import (STAGES, compare_commits, query_pass, run_commit,
                       traced_commit, tree_size)

    if b.args.workload == "bulk_ingest":
        rows, _, mix = _bulk_setup(b, spark, cd)
        inp, offered, expect = f"{b.work}/in-bulk", rows, rows
        os.makedirs(f"{b.work}/graph")
    else:
        batches, _, mix = _serve_setup(b, spark, cd)
        inp, offered, expect, _ = _write_batch(b, batches, 0)
    base = f"{b.work}/graph"
    for copy in ("graph-w", "graph-a", "graph-b"):
        shutil.copytree(base, f"{b.work}/{copy}")
    wp = spark.read.parquet(inp)

    # the same commit once more first, so the plans of this commit are
    # compiled before either measured commit (otherwise the first pays
    # for it and the order of the two decides the overhead)
    run_commit(spark, wp, cd, f"{b.work}/graph-w")
    plain = run_commit(spark, wp, cd, f"{b.work}/graph-a")
    traced = traced_commit(spark, tracer, wp, cd, f"{b.work}/graph-b")
    diffs = compare_commits(plain, traced)
    b.op("traced copy matches pipeline.run", diffs)
    if not diffs:
        print(f"steps: traced copy matches pipeline.run: batch "
              f"{traced.batch}, {traced.n_extracted} pages, "
              f"{traced.n_triples} triples, "
              f"{traced.n_dependencies} dependencies, files "
              + json.dumps({t: f[0] for t, f in traced.files.items()}))
    graph = f"{b.work}/graph-b"
    b.op("traced commit", check_commit(graph, traced, expect))

    # the query spans wrap the same calls and add no Spark action, so
    # the pass runs once, traced
    with tracer.span("query_pass"):
        answers = query_pass(tracer, spark, f"{graph}/triples", mix)
    bad = mix.check(answers, mix.oracle(f"{graph}/triples"))
    for name, _, _ in mix.requests:
        b.op(name, ["answer differs from DuckDB"] if name in bad else [])

    t = tracer.total
    files, nbytes = traced.files["triples@batch"]
    b.layers.update({
        "checkpoint.pending_s": t("checkpoint.pending"),
        "checkpoint.skip_ratio": (len(offered) - traced.n_extracted)
        / len(offered),
        "checkpoint.entries_append_s": t("checkpoint.entries_append"),
        "pipeline.batch_id_s": t("pipeline.batch_id"),
        "extract.kernel_s": t("extract.kernel"),
        "extract.docs": traced.n_extracted,
        "extract.quarantined": traced.n_quarantined,
        "triples.lift_s": t("triples.lift"),
        "pipeline.triple_write_s": t("pipeline.triple_write")
        - t("triples.lift"),
        "pipeline.triple_files": files,
        "pipeline.triple_bytes": nbytes,
        "canonicalize.relate_s": t("canonicalize.relate"),
        "canonicalize.dependency_rows": traced.n_dependencies,
        "pipeline.log_files": tree_size(f"{graph}/triples")[0],
        "pipeline.view_s": t("pipeline.current_triples"),
        "sparql.compile_s": t("sparql.compile"),
        "sparql.select_s": t("sparql.select"),
        "sparql.path_s": t("sparql.path"),
        "api.facet_s": t("api.facet"),
        "pipeline.unattributed_s": plain.wall_s
        - sum(t(s) for s in STAGES),
        "trace.overhead_s": traced.wall_s - plain.wall_s,
    })


def _result(b: Bench, rss_mb: float) -> dict:
    if b.args.trace:
        values = b.layers
        units = LAYERS
    else:
        med = {k: statistics.median(v) for k, v in b.samples.items()}
        med["peak_rss_mb"] = rss_mb
        med["ok_ratio"] = (b.attempted - b.failed) / b.attempted
        values, units = med, E2E
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"no value for {missing}")
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }


# the contract gives a run 180 s; leave the cleanup time to spare
RUN_TIMEOUT_S = 170


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ferenda_spark",
                                       "pipeline.py")):
        print("perfbench: no ferenda_spark package next to perfbench/",
              file=sys.stderr)
        return 2
    if args.worker is None:
        return _supervise(argv)
    run_id = args.worker
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    sys.path.insert(0, ROOT)
    # executor Python workers import ferenda_spark too: they inherit
    # the environment of the JVM this process launches
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = f"{work}/tmp"
    return _run(args, work, run_id)


def _supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process, then make sure nothing it
    started outlives it and remove its work dir."""
    import machine

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(work)
    try:
        return machine.supervise(
            [sys.executable, os.path.abspath(__file__), *argv,
             "--worker", run_id], RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, run_id: str) -> int:
    from ferenda_spark.fixtures.webpages import commondata_df

    import machine
    from tracing import Tracer

    b = Bench(args, work)
    b.t_setup = time.perf_counter()
    jiffies = machine.cpu_jiffies()
    tracer = Tracer(run_id, enabled=bool(args.trace))
    with tracer.span("session.start"):
        spark = b.start_spark()
    b.layers["session.start_s"] = b.session_s
    try:
        with machine.RssSampler() as rss:
            cd = commondata_df(spark)
            if args.trace:
                run_traced(b, spark, cd, tracer)
            else:
                run_untraced(b, spark, cd)
    except Exception:
        traceback.print_exc()
        machine.stop_spark(spark)
        return 1
    machine.stop_spark(spark)
    if args.trace:
        windows = tracer.windows("commit") + tracer.windows("query_pass")
        b.layers["spark.tasks"] = machine.event_log_tasks(
            f"{work}/eventlog", windows)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        spans = f"{out}/spans-{args.workload}-{args.seed}-{run_id}.jsonl"
        tracer.write(spans)
        print(f"spans: {os.path.relpath(spans, ROOT)}")
    rec = machine.record(ROOT, b.cores, b.conf, jiffies)
    rec["cpu_ceiling_speedup"] = machine.cpu_ceiling(b.cores)
    print("machine: " + json.dumps(rec))
    print("samples: " + json.dumps(b.samples))
    try:
        result = _result(b, rss.peak_mb)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
