"""The end-to-end KG-construction job (north_star): web_pages ->
extracted -> triples (+ entries, dependencies, metrics), materialized as
partitioned tables.

Stage layout mirrors the reference's parse/relate actions
(SURVEY.md §3.1/§3.2) with the process/node boundaries replaced by the
Spark scheduler:

  1. pending = anti-join of web_pages against the entries checkpoint
     (exact resume; checkpoint.py), read by ONE aggregate that gives
     both the row count (0 => no-op resume) and the batch id
  2. extract: one narrow mapInPandas pass (operators/extract.py)
  3. triples: fused single-pass columnar lift over the persisted
     extracted table, the entity dictionary compiled into its
     expression, built once per dictionary (operators/triples.py)
  4. relate: INCREMENTAL dependency maintenance — the new batch's
     object URIs vs all documents, plus the prior graph's object URIs
     vs this batch's brand-new documents (broadcast); never a
     full-graph self-join per commit.  It reads the raw prior log and
     keeps each url's latest version with one window (canonicalize.py)
  5. write: triples partitioned by (batch, pred_bucket, crawl_date) —
     the Iceberg layout from SURVEY §1.3; parquet stand-in locally.
     ``crawl_date`` is the crawl month (its first day): Iceberg's
     ``months(warc_ts)`` transform.  The rows are first hash-clustered
     on (pred_bucket, crawl_date) into ``defaultParallelism`` tasks, so
     each partition value is written by exactly one task (one file per
     (bucket, crawl month) directory) and the writers run on every core
     (``with_partition_cols``).

Partitioning rationale (100 TB): predicate frequency is Zipfian, so
partitioning raw ``pred`` would produce a handful of huge partitions;
``pred_bucket = pmod(xxhash64(pred), N_PRED_BUCKETS)`` bounds partition
count while still enabling partition pruning for predicate-filtered
queries: the readers (``where_pred``, used by the SPARQL compiler and
the faceted API) add the bucket of each bound predicate as a partition
filter, computed by the same ``pred_bucket`` expression the writer
uses.  crawl_date enables incremental-load pruning at crawl-month
grain.  A month, not a day: a commit writes one file per (bucket, crawl
month) it touches, where a day grain made any commit of pages crawled
over a few years write one small file per (bucket, day) — ~780 files
for a few hundred fixture pages — which every later commit and query
lists and opens.  No reader filters on crawl_date, so the coarser grain
costs no pruning.

Exactly-once incremental commits WITHOUT Iceberg's MERGE INTO: each
run's pending set gets a deterministic ``batch`` id (hash of its
(url, content) keys); extracted/triples/dependencies/metrics are
written with DYNAMIC partition overwrite keyed on batch.  Re-running a
failed batch overwrites only its own partitions (idempotent); completed
batches are never touched; a no-op resume (empty pending set) writes
nothing.  On Iceberg the same contract is a MERGE INTO / snapshot
commit.

SUPERSEDE semantics (a re-crawled url replaces its old graph, like the
reference's re-parse overwriting the distilled file): the raw batch
partitions are an APPEND LOG, and ``current_triples`` /
``current_dependencies`` are the queryable views — latest ``commit_ts``
per url wins.  Opening a view materializes its (url, latest commit_ts)
index once, so every request on the view reuses it instead of
re-aggregating the log.  On Iceberg the views collapse into
MERGE-on-commit.

Metrics come from ``DataFrame.observe`` on the write jobs (zero extra
scans — VERDICT r01 "count storm") plus a tiny per-batch ``metrics``
table; ``n_triples_total`` is a sum over that table, not a rescan of
the triple log.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ferenda_spark import checkpoint
from ferenda_spark.operators import canonicalize
from ferenda_spark.operators.extract import extract
from ferenda_spark.operators.triples import all_triples

N_PRED_BUCKETS = 16

# the per-batch metrics table's columns, one row per commit
_METRICS_COLS = (("batch", "string"), ("n_extracted", "long"),
                ("n_triples", "long"), ("n_dependencies", "long"),
                ("commit_ts", "double"), ("wall_s", "double"))


def pred_bucket(pred: Column) -> Column:
    """The ``pred_bucket`` partition value of a predicate.  The writer
    applies it to every row; a reader applies it to a literal, which
    Catalyst constant-folds into a partition filter.  One expression for
    both, so they cannot drift apart."""
    return F.pmod(F.xxhash64(pred), F.lit(N_PRED_BUCKETS))


def where_pred(triples: DataFrame, *preds: str) -> DataFrame:
    """Rows whose ``pred`` is one of ``preds``.  On a table partitioned
    by ``pred_bucket`` the filter also names those predicates' buckets,
    so the scan reads only their partitions."""
    cond = F.col("pred").isin(*preds)
    if "pred_bucket" in triples.columns:
        cond &= F.col("pred_bucket").isin(
            *[pred_bucket(F.lit(p)) for p in preds])
    return triples.where(cond)


def with_partition_cols(triples: DataFrame, warc_ts_by_url: DataFrame) -> DataFrame:
    """Add the write's partition columns and cluster the rows by them.

    ``crawl_date`` is the first day of the page's crawl month, so each
    commit writes one file per (``pred_bucket``, crawl month).

    Without the clustering the partitioned write makes one file per
    task per partition value, and a small batch (whose plan AQE
    coalesces to one partition) writes every file from a single task.
    Hash-partitioning on (pred_bucket, crawl_date) gives each value to
    exactly one task, and the explicit count spreads those tasks over
    every core: AQE coalesces a by-column shuffle without a count, or a
    ``rebalance``, of a small batch back down to one partition.

    Skew limit: one task writes all of a partition value's rows, so at
    scale the Zipfian ``rdf:type`` bucket of each crawl month lands in a
    single task (and a single file); salting that bucket is open work.
    """
    t = triples.join(warc_ts_by_url, "url", "left")
    n = triples.sparkSession.sparkContext.defaultParallelism
    return (
        t.withColumn("pred_bucket", pred_bucket(F.col("pred")))
        .withColumn("crawl_date",
                    F.trunc(F.to_date("warc_ts"), "month"))
        .drop("warc_ts")
        .repartition(n, "pred_bucket", "crawl_date")
    )


def _pending_batch(todo: DataFrame) -> tuple[int, str]:
    """(row count, ``batch_id``) of a pending set, from one aggregate."""
    # per-row hash reduced mod p, summed as decimal(38,0): overflow-free
    # (ANSI mode) up to ~10^28 rows
    p = 1_000_000_007
    row = todo.select(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64("url", "html"), F.lit(p))
              .cast("decimal(38,0)")).alias("h")).collect()[0]
    h = int(row["h"] or 0) % (1 << 48)
    return row["n"], f"{row['n']}x{h:012x}"


def batch_id(todo: DataFrame) -> str:
    """Deterministic id of a pending set: order-insensitive hash of its
    (url, content) keys.  The same failed batch re-runs under the same
    id => dynamic partition overwrite makes the retry idempotent."""
    return _pending_batch(todo)[1]


def _latest_index(triples_all: DataFrame) -> DataFrame:
    """(url, commit_ts) of each url's latest committed version, computed
    now, by one job, and held in the executors' block stores.

    ``localCheckpoint`` and not ``cache()``: the cache manager matches a
    plan over ``spark.read.parquet(path)`` by its root path, so a view
    opened after a later commit would be served the earlier view's
    stale index.  A checkpoint belongs to the DataFrame that made it."""
    return (triples_all.groupBy("url")
            .agg(F.max("commit_ts").alias("commit_ts"))
            .localCheckpoint())


def current_triples(triples_all: DataFrame) -> DataFrame:
    """The queryable graph: latest committed version per url (the raw
    table is an append log of batches; a re-crawled url's older batches
    are superseded).

    The view is a snapshot.  Its (url, latest commit_ts) index is built
    once, when the view is opened, and every request on the view
    semi-joins against it instead of re-aggregating the whole log; a
    ``spark.read.parquet`` input also keeps the file listing it was
    opened with.  A commit made after opening is therefore seen only by
    a view opened after it.  The index lives in executor memory
    (``localCheckpoint``): if an executor holding part of it is lost,
    requests on the view fail, and the view must be reopened."""
    return triples_all.join(_latest_index(triples_all),
                            ["url", "commit_ts"], "left_semi")


def current_dependencies(deps_all: DataFrame,
                         triples_all: DataFrame) -> DataFrame:
    """Dependencies view: keep rows whose from-document version is still
    the current one (``from_commit_ts`` carried from the triple log).
    A snapshot, like ``current_triples``."""
    latest = _latest_index(triples_all).select(
        F.col("url").alias("from_url"),
        F.col("commit_ts").alias("from_commit_ts"))
    return (deps_all.join(latest, ["from_url", "from_commit_ts"],
                          "left_semi")
            .select("from_url", "to_url").dropDuplicates())


@dataclass
class RunResult:
    n_pages: int
    n_extracted: int      # this batch
    n_triples: int        # this batch
    n_triples_total: int  # append-log size after commit (metrics sum)
    n_dependencies: int   # dependency rows appended by this batch
    wall_s: float
    batch: str | None = None


def _metrics_total(spark: SparkSession, out_dir: str,
                   col: str = "n_triples") -> int:
    metrics = checkpoint.read_table(spark, f"{out_dir}/metrics")
    if metrics is None:
        return 0
    row = metrics.agg(F.sum(col).alias("s")).collect()[0]
    return int(row["s"] or 0)


def run(
    spark: SparkSession,
    web_pages: DataFrame,
    commondata: DataFrame,
    out_dir: str,
    entries_path: str | None = None,
    input_partitions: int | None = None,
) -> RunResult:
    t0 = time.time()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    entries = (checkpoint.read_entries(spark, entries_path)
               if entries_path else None)
    todo = checkpoint.pending(web_pages, entries)
    if input_partitions:
        todo = todo.repartition(input_partitions, "url")

    n_todo, batch = _pending_batch(todo)
    if n_todo == 0:
        # no-op resume: touch nothing (the destructive alternative —
        # overwriting the table with an empty batch — is exactly what
        # the checkpoint contract forbids)
        return RunResult(
            n_pages=web_pages.count(), n_extracted=0, n_triples=0,
            n_triples_total=_metrics_total(spark, out_dir),
            n_dependencies=0,
            wall_s=time.time() - t0, batch=None)

    commit_ts = time.time()

    obs_ext = Observation()
    extracted = (extract(todo).withColumn("batch", F.lit(batch))
                 .observe(obs_ext, F.count(F.lit(1)).alias("n")))
    # materialize the extract output: the triples branches + entries
    # share one scan, and downstream reads prune columns (parquet)
    (extracted.write.mode("overwrite").partitionBy("batch")
     .parquet(f"{out_dir}/extracted"))
    n_extracted = int(obs_ext.get["n"])
    extracted = (spark.read.parquet(f"{out_dir}/extracted")
                 .where(F.col("batch") == batch))

    triples = all_triples(extracted.drop("batch"), commondata)
    warc_ts = extracted.select("url", "warc_ts")
    obs_tri = Observation()
    partitioned = (with_partition_cols(triples, warc_ts)
                   .withColumn("batch", F.lit(batch))
                   .withColumn("commit_ts", F.lit(commit_ts))
                   .observe(obs_tri, F.count(F.lit(1)).alias("n")))
    (partitioned.write.mode("overwrite")
     .partitionBy("batch", "pred_bucket", "crawl_date")
     .parquet(f"{out_dir}/triples"))
    n_triples = int(obs_tri.get["n"])

    # incremental relate: scans the new batch (partition-pruned) plus
    # narrow projections of the prior log — NOT a full self-join.  The
    # raw prior log, not current_triples: relate keeps each url's latest
    # rows by a window over the scan it reads anyway, where the view
    # would cost an extra job over the log
    triples_all = spark.read.parquet(f"{out_dir}/triples")
    obs_dep = Observation()
    deps = (canonicalize.incremental_dependency_join(
        triples_all.where(F.col("batch") == batch),
        triples_all.where(F.col("batch") != batch))
        .withColumn("batch", F.lit(batch))
        .observe(obs_dep, F.count(F.lit(1)).alias("n")))
    (deps.write.mode("overwrite").partitionBy("batch")
     .parquet(f"{out_dir}/dependencies"))
    n_deps = int(obs_dep.get["n"])

    # built in the JVM: a createDataFrame row would be a Python-RDD
    # scan, which needs a Python worker to write one row
    values = (batch, n_extracted, n_triples, n_deps, commit_ts,
              time.time() - t0)
    metrics = spark.range(1).select(
        *[F.lit(v).cast(t).alias(c)
          for (c, t), v in zip(_METRICS_COLS, values)])
    (metrics.write.mode("overwrite").partitionBy("batch")
     .parquet(f"{out_dir}/metrics"))

    if entries_path:
        checkpoint.append_entries(
            checkpoint.entries_from_extracted(extracted, started_at=t0),
            entries_path)

    return RunResult(
        # input cardinality: a parquet/Iceberg count() is answered from
        # file-footer / snapshot statistics (no data scan); on Iceberg
        # this is snapshot.summary["total-records"]
        n_pages=web_pages.count(),
        n_extracted=n_extracted,
        n_triples=n_triples,
        n_triples_total=_metrics_total(spark, out_dir),
        n_dependencies=n_deps,
        wall_s=time.time() - t0,
        batch=batch,
    )
