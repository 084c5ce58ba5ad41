"""The benchmark's calls into the package: one commit and one query pass.

``pipeline.run`` cannot be split from outside the package, so the traced
commit, ``traced_commit``, calls the same public functions ``run`` calls,
in the same order and with the same writes, each inside a span.  It adds
one action ``run`` does not make: the triple lift into a noop sink, which
splits the lift from the partitioned write.  It leaves out what only
``run`` can do (``web_pages.count()`` and the private metrics total), so
that cost shows as ``pipeline.unattributed_s``.  ``compare_commits``
checks the copy's row and file counts against ``pipeline.run`` on the
same input, so a later change to ``run`` cannot leave this copy stale
unnoticed.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

from ferenda_spark import checkpoint, pipeline
from ferenda_spark.operators import canonicalize
from ferenda_spark.operators.api import faceted_query
from ferenda_spark.operators.extract import extract
from ferenda_spark.operators.sparql import sparql_query
from ferenda_spark.operators.triples import all_triples

from tracing import Tracer

# the tables a commit writes under its output dir
TABLES = ("triples", "extracted", "dependencies", "entries", "metrics")

# the spans whose sum mirrors pipeline.run's own steps; the noop lift
# is extra work the copy adds, so it is not part of the sum
STAGES = ("checkpoint.pending", "pipeline.batch_id", "extract.kernel",
          "pipeline.triple_write", "canonicalize.relate",
          "pipeline.metrics_write", "checkpoint.entries_append")


@dataclass
class Commit:
    batch: str | None
    n_extracted: int
    n_triples: int
    n_dependencies: int
    wall_s: float
    n_quarantined: int | None = None
    files: dict = field(default_factory=dict)


def tree_size(path: str) -> tuple[int, int]:
    """(parquet files, bytes of every file) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, size


def table_counts(out_dir: str, batch: str | None) -> dict:
    """Files and bytes per table for the whole log and for ``batch``."""
    out = {}
    for t in TABLES:
        out[t] = tree_size(f"{out_dir}/{t}")
        if batch is not None and t != "entries":
            out[f"{t}@batch"] = tree_size(f"{out_dir}/{t}/batch={batch}")
    return out


def run_commit(spark, web_pages, commondata, out_dir: str) -> Commit:
    """One untraced ``pipeline.run`` commit with an entries checkpoint."""
    t0 = time.perf_counter()
    r = pipeline.run(spark, web_pages, commondata, out_dir,
                     entries_path=f"{out_dir}/entries")
    wall = time.perf_counter() - t0
    return Commit(r.batch, r.n_extracted, r.n_triples, r.n_dependencies,
                  wall, files=table_counts(out_dir, r.batch))


def traced_commit(spark, tracer: Tracer, web_pages, commondata,
                  out_dir: str) -> Commit:
    """``pipeline.run``'s steps, one span per layer call."""
    entries_path = f"{out_dir}/entries"
    t0 = time.perf_counter()
    with tracer.span("commit"):
        start = time.time()
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                       "dynamic")
        with tracer.span("checkpoint.pending"):
            entries = checkpoint.read_entries(spark, entries_path)
            todo = checkpoint.pending(web_pages, entries)
            empty = todo.isEmpty()
        if empty:
            return Commit(None, 0, 0, 0, time.perf_counter() - t0)
        with tracer.span("pipeline.batch_id"):
            batch = pipeline.batch_id(todo)
        commit_ts = time.time()

        obs_ext = Observation()
        with tracer.span("extract.kernel"):
            extracted = (extract(todo).withColumn("batch", F.lit(batch))
                         .observe(obs_ext,
                                  F.count(F.lit(1)).alias("n"),
                                  F.sum((~F.col("parse_ok")).cast("long"))
                                  .alias("bad")))
            (extracted.write.mode("overwrite").partitionBy("batch")
             .parquet(f"{out_dir}/extracted"))
        n_extracted = int(obs_ext.get["n"])
        n_bad = int(obs_ext.get["bad"] or 0)
        extracted = (spark.read.parquet(f"{out_dir}/extracted")
                     .where(F.col("batch") == batch))

        triples = all_triples(extracted.drop("batch"), commondata)
        with tracer.span("triples.lift"):
            triples.write.format("noop").mode("overwrite").save()
        obs_tri = Observation()
        with tracer.span("pipeline.triple_write"):
            partitioned = (pipeline.with_partition_cols(
                triples, extracted.select("url", "warc_ts"))
                .withColumn("batch", F.lit(batch))
                .withColumn("commit_ts", F.lit(commit_ts))
                .observe(obs_tri, F.count(F.lit(1)).alias("n")))
            (partitioned.write.mode("overwrite")
             .partitionBy("batch", "pred_bucket", "crawl_date")
             .parquet(f"{out_dir}/triples"))
        n_triples = int(obs_tri.get["n"])

        obs_dep = Observation()
        with tracer.span("canonicalize.relate"):
            triples_all = spark.read.parquet(f"{out_dir}/triples")
            deps = (canonicalize.incremental_dependency_join(
                triples_all.where(F.col("batch") == batch),
                pipeline.current_triples(
                    triples_all.where(F.col("batch") != batch)))
                .withColumn("batch", F.lit(batch))
                .observe(obs_dep, F.count(F.lit(1)).alias("n")))
            (deps.write.mode("overwrite").partitionBy("batch")
             .parquet(f"{out_dir}/dependencies"))
        n_deps = int(obs_dep.get["n"])

        with tracer.span("pipeline.metrics_write"):
            metrics = spark.createDataFrame(
                [(batch, n_extracted, n_triples, n_deps, commit_ts,
                  time.time() - start)],
                "batch string, n_extracted long, n_triples long, "
                "n_dependencies long, commit_ts double, wall_s double")
            (metrics.write.mode("overwrite").partitionBy("batch")
             .parquet(f"{out_dir}/metrics"))

        with tracer.span("checkpoint.entries_append"):
            checkpoint.append_entries(
                checkpoint.entries_from_extracted(extracted,
                                                  started_at=start),
                entries_path)
    wall = time.perf_counter() - t0
    return Commit(batch, n_extracted, n_triples, n_deps, wall,
                  n_quarantined=n_bad,
                  files=table_counts(out_dir, batch))


def compare_commits(a: Commit, b: Commit) -> list[str]:
    """Differences in batch id, row counts and per-table file counts
    between two commits of the same input."""
    diffs = []
    for k in ("batch", "n_extracted", "n_triples", "n_dependencies"):
        if getattr(a, k) != getattr(b, k):
            diffs.append(f"{k}: {getattr(a, k)} != {getattr(b, k)}")
    for t in sorted(set(a.files) | set(b.files)):
        fa, fb = a.files.get(t, (None,))[0], b.files.get(t, (None,))[0]
        if fa != fb:
            diffs.append(f"{t} files: {fa} != {fb}")
    return diffs


def query_pass(tracer: Tracer, spark, triples_dir: str, mix) -> dict:
    """One pass of the three requests over the ``current_triples`` view.
    The view is opened once per pass, as a server would after each
    commit, so the pass pays one listing of the triple log.  Returns the
    answers as Python values."""
    with tracer.span("pipeline.current_triples"):
        current = pipeline.current_triples(spark.read.parquet(triples_dir))
    answers = {}
    for name, kind, arg in mix.requests:
        if kind == "api":
            with tracer.span("api.facet"):
                answers[name] = faceted_query(current, arg)
            continue
        with tracer.span("sparql.compile"):
            df = sparql_query(current, arg)   # parse_sparql + plan
        with tracer.span(f"sparql.{name.split('_', 1)[1]}"):
            answers[name] = [tuple(r) for r in df.collect()]
    return answers
