"""Structured Streaming ingestion path (optional extension; the
reference is batch-only — SURVEY.md §2.6 "Streaming: none").

Two entry points:

- ``stream_web_pages`` + ``stream_triples_to``: continuous KG
  construction.  New page files landing in a directory stream through
  the SAME extract/all_triples operators as the batch path (they are
  narrow maps, so they lift to streaming unchanged); the final
  set-dedup happens per micro-batch inside ``foreachBatch`` where the
  full batch DataFrame API is available.  Each micro-batch appends its
  triples as flat (unpartitioned) parquet under ``out_dir``, tagged
  with a ``stream_batch`` column; it does not write the batch
  pipeline's (batch, pred_bucket, crawl month) layout.

- ``windowed_event_counts``: event-time tumbling-window aggregation
  with a watermark for late data — the streaming generalization of the
  news/TOC recompute loops (documentrepository.py:2873-2905), which the
  reference re-runs from scratch on a timer.

Scale notes: file-source ingestion at 100 TB uses
``maxFilesPerTrigger`` to bound micro-batch size; checkpointLocation
gives exactly-once file-source progress, complementing the batch
``entries`` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ferenda_spark.operators.extract import extract
from ferenda_spark.operators.triples import all_triples

WEB_PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
                 "text string, lang string")


def stream_web_pages(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """readStream over a directory of web_pages parquet files."""
    reader = spark.readStream.schema(WEB_PAGES_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_triples_to(pages_stream: DataFrame, commondata: DataFrame,
                      out_dir: str, checkpoint_dir: str,
                      available_now: bool = True):
    """extract -> triples per micro-batch, appended to ``out_dir``.

    Returns the StreamingQuery (call ``awaitTermination`` /
    ``processAllAvailable`` on it)."""
    extracted = extract(pages_stream)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        triples = all_triples(batch_df, commondata)
        (triples.withColumn("stream_batch", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    writer = (extracted.writeStream
              .option("checkpointLocation", checkpoint_dir)
              .foreachBatch(sink))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(events_stream: DataFrame,
                          window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time windows with late-data watermark:
    (window_start, event_type, n, sum_value).  Matches the batch
    queries.q_events_hourly_windows result shape."""
    return (
        events_stream
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n", "sum_value")
    )
