"""Streaming extraction job.

``readStream`` (file source over an append-only pages directory — the
streaming stand-in for an Iceberg incremental scan) -> the SAME
mapInPandas extraction kernel as the batch job (engine.job) -> parquet
sink with checkpointing (exactly-once file sink semantics: re-running
after a kill resumes from the offset log without reprocessing).

Windowed lineage: event-time (warc_ts) tumbling windows with a watermark
bound the state store; late pages beyond the watermark are dropped from
the lineage aggregation but still extracted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import job
from ..engine.source import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    return (spark.readStream
            .schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def extract_stream(pages: DataFrame, n_partitions: int = 32) -> DataFrame:
    """Same kernel, same part_id semantics as the batch job — streaming
    micro-batches flow through the identical Arrow batches (including
    the optional per-document password column, like run_extract)."""
    return job.extract_keyed(job.keyed_input(pages, n_partitions))


def run_extract_stream(spark: SparkSession, input_dir: str, out_dir: str,
                       checkpoint_dir: str,
                       available_now: bool = True,
                       metrics_path: str | None = None):
    """Start (and with available_now=True, drain) the streaming job.
    Returns the terminated/active StreamingQuery.

    ``metrics_path``: append per-micro-batch progress rows (input rows,
    trigger duration — streaming.metrics JSONL sidecar) after the
    drain, the streaming analog of the batch job's per-partition
    lineage rows (this job is stateless; stateful queries use
    ``metrics.write_state_metrics`` for store sizes too). For a
    non-draining run, poll the returned query on a schedule instead."""
    pages = read_pages_stream(spark, input_dir)
    extracted = extract_stream(pages)
    writer = (extracted.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        if metrics_path is not None:
            from . import metrics

            metrics.write_batch_metrics(q, metrics_path)
    else:
        q = writer.start()
    return q


def windowed_lineage(pages: DataFrame, watermark: str = "1 hour",
                     window: str = "1 hour") -> DataFrame:
    """Event-time lineage counts per warc_ts window (streaming-safe:
    watermark bounds state; works identically on batch frames)."""
    return (pages
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"))
            .agg(F.count("*").alias("n_pages"),
                 F.sum(F.length("html")).alias("bytes_in"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "n_pages", "bytes_in"))
