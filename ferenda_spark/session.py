"""SparkSession factory tuned for the KG-construction workload.

Scale notes (the settings matter at 100 TB, not on local[32]):
- AQE on: runtime coalesce + skew-join splitting.  Predicate frequency in
  the triple table is Zipfian (rdf:type, dcterms:isPartOf dominate) and
  entity labels are hot (one publisher on ~60%% of docs), so skew handling
  is load-bearing, cf. SURVEY.md §4.
- Arrow enabled: every per-document Python stage is an Arrow-batched
  pandas UDF (zero per-row Python, BASELINE.json input_hint).
- shuffle.partitions defaults to max(cores, 8) locally; on a real
  cluster set it to ~2-3x total cores (or rely on AQE coalesce from a
  higher initial value).
- DataFrame debugging off: PySpark 4 wraps every Column/function call
  in ``_with_origin``, which captures the Python stack and makes several
  py4j round trips per call to record the call site.  Building the
  triple lift's plan makes thousands of such calls, so the capture
  doubled the time a small commit spends building that plan.  The cost
  of turning it off: analysis and runtime errors lose PySpark's Python
  call-site "DataFrame query context"; the error class and message are
  unchanged.  The conf is static, so it can only be set here, before
  the session starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ferenda_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores.  On a real
    cluster this function is irrelevant past the conf defaults — the job is
    submitted via ``spark-submit --py-files ferenda_spark.zip``.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # ~10k rows/batch: per-batch UDF overhead amortizes 5x better
        # than the 2048 default at ~3 KB/row; bound by bytes at larger
        # payloads (multimodal stages re-chunk by target_batch_bytes)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate turns every explode(f(x)) into a
        # scan-pushed `size(f(x))>0 AND isnotnull(f(x))` filter that
        # RE-EVALUATES f twice below the exchange — for the computed
        # shingle/n-gram/line arrays this engine explodes, that ran the
        # whole tokenize+gram pipeline single-core on the pre-shuffle
        # side (measured 5.7s -> 0.6s on the 6-gram explode at sf0.1).
        # The rule only ever helps when exploding a STORED array column
        # whose emptiness can prune at the source; this workload has
        # none — every exploded array is computed in the plan.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
