"""Structured Streaming variant (SURVEY §2.8).

The reference is a continuously-running push receiver: each HTTP request
is an immediately-persisted micro-batch (README.md:133, per-request
transaction database/traces.go:11-15). The streaming rebuild maps one
micro-batch to one ``foreachBatch`` invocation:

    readStream(file source over the transcripts table)
      -> foreachBatch: the shared stages of plans/pipeline.py —
         parse_records -> resolve_span_conflicts with the spans earlier
         batches committed as history (the cross-batch state the
         reference keeps in SQLite's unique indexes) -> commit_slice
         into the batch's own leaf ``{table}/batch={batch_id}``, through
         the batch plan's writer, so the sink layout matches a batch run

The batch id keys the commit, as the bucket number does for the
checkpoint: a batch that Spark re-runs after a crash reads only the
spans of batches < id, so it reaches the first attempt's verdicts, and
it overwrites its own partial output.

Cross-batch state design: instead of flatMapGroupsWithState (explicitly
avoided, SURVEY §7e), committed span PKs are re-read from the sink as
the history of the resolver batch and checkpoint use. Dimension
tables are touches deduplicated on read (``read_dims``, the batch plan's
own dimension builders), matching the get-or-create semantics without a
transactional catalog.

Watermarking: the reference has NO late-data policy (rows stored in
arrival order, database/db.go:86-87); ``windowed_counts`` demonstrates
the watermark + tumbling-window aggregate the north_star adds on ts.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.operators.conflicts import resolve_span_conflicts
from sqlite_otel_spark.plans.pipeline import (
    commit_slice,
    nothing_committed,
    parse_records,
    read_touch_dims,
)

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _span_history(spark: SparkSession, out_dir: str, batch_id: int) -> DataFrame | None:
    """The span keys earlier batches committed, or None when nothing is
    committed yet. Only the leaves of batches < ``batch_id`` count (a
    partition filter): a replay must not see the spans its own failed
    attempt committed."""
    try:
        committed = spark.read.parquet(f"{out_dir}/spans")
    except AnalysisException as e:
        if not nothing_committed(e):
            raise
        return None
    return committed.filter(F.col("batch") < batch_id).select("trace_id", "span_id")


def process_batch(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, out_dir: str,
    cfg: PipelineConfig,
) -> None:
    records = parse_records(batch_df, cfg).persist()
    try:
        invalid_turns, _ = resolve_span_conflicts(
            spark, records, cfg.max_conflict_turns,
            history=_span_history(spark, out_dir, batch_id),
        )
        commit_slice(records, invalid_turns, out_dir, cfg, f"/batch={batch_id}")
    finally:
        records.unpersist()


def start_stream(
    spark: SparkSession, input_dir: str, out_dir: str,
    cfg: PipelineConfig | None = None, checkpoint_dir: str | None = None,
):
    """File-source stream with availableNow trigger (bounded catch-up run,
    ≙ draining the request backlog). Each micro-batch overwrites its own
    leaf ``{table}/batch={batch_id}``, so a batch that Spark re-runs from
    the streaming checkpoint after a crash replaces its partial output.
    Keep ``out_dir`` with its checkpoint: batch ids restart at 0 under a
    new one."""
    cfg = cfg or PipelineConfig()
    os.makedirs(out_dir, exist_ok=True)
    reader = spark.readStream.schema(TRANSCRIPT_DDL)
    if cfg.max_files_per_trigger is not None:
        # per-request micro-batch analogue
        reader = reader.option("maxFilesPerTrigger", cfg.max_files_per_trigger)
    if cfg.max_bytes_per_trigger is not None:
        # byte admission cap — the 10 MB/request analogue
        # (handlers/handler_common.go:29); file-granularity in Spark.
        reader = reader.option("maxBytesPerTrigger", str(cfg.max_bytes_per_trigger))
    src = reader.parquet(input_dir)
    return (
        src.writeStream
        .foreachBatch(lambda df, bid: process_batch(spark, df, bid, out_dir, cfg))
        .option("checkpointLocation", checkpoint_dir or f"{out_dir}/_stream_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def read_dims(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """Dedup-on-read dimension views over every batch's touches."""
    return read_touch_dims(spark, out_dir)


def windowed_counts(
    spark: SparkSession, input_dir: str, watermark: str = "10 minutes",
    bucket: str = "1 hour",
):
    """Streaming watermarked tumbling-window aggregate (A3 streaming
    form): counts by window/role with late data beyond the watermark
    dropped. Returns a streaming DataFrame for a memory-sink test."""
    src = spark.readStream.schema(TRANSCRIPT_DDL).parquet(input_dir)
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", bucket).alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("w.start").alias("bucket_start"), "role", "n_turns")
    )
