"""Structured Streaming variant (SURVEY §2.8).

The reference is a continuously-running push receiver: each HTTP request
is an immediately-persisted micro-batch (README.md:133, per-request
transaction database/traces.go:11-15). The streaming rebuild maps one
micro-batch to one ``foreachBatch`` invocation:

    readStream(file source over the transcripts table)
      -> foreachBatch: the shared stages of plans/pipeline.py —
         parse_records -> verdicts over the batch AND the spans earlier
         batches committed (the cross-batch state the reference keeps in
         SQLite's unique indexes) -> commit_slice into the batch's own
         leaf ``{table}/batch={batch_id}``, through the batch plan's
         writer, so the sink layout options match a batch run

The batch id keys the commit, as the bucket number does for the
checkpoint: a batch that Spark re-runs after a crash reads only the
spans of batches < id, so it reaches the first attempt's verdicts, and
it overwrites its own partial output.

Cross-batch state design: instead of flatMapGroupsWithState (explicitly
avoided, SURVEY §7e), committed span PKs are re-read from the sink and
anti-joined — the parquet stand-in for an Iceberg MERGE. Dimension
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
from sqlite_otel_spark.operators.conflicts import drop_conflicted, resolve_span_conflicts
from sqlite_otel_spark.plans.pipeline import (
    commit_slice,
    nothing_committed,
    parse_records,
    read_touch_dims,
)

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _clash_turns(
    spark: SparkSession, records: DataFrame, out_dir: str, batch_id: int
) -> DataFrame | None:
    """Turns of this batch whose spans collide with spans committed by
    earlier batches, or None when there are none. Only the leaves of
    batches < ``batch_id`` count (a partition filter): a replay must not
    see the spans its own failed attempt committed."""
    try:
        committed = spark.read.parquet(f"{out_dir}/spans")
    except AnalysisException as e:
        if not nothing_committed(e):
            raise
        return None  # first batch: nothing committed yet
    committed = committed.filter(F.col("batch") < batch_id).select("trace_id", "span_id")
    clash = (
        records.filter(F.col("rec_kind") == "span")
        .join(committed, ["trace_id", "span_id"], "leftsemi")
        .select("conv_id", "turn_idx").distinct()
    )
    # a plain count, not limit(1).count(): every plan with a limit gets a
    # fresh JVM-wide counter name in its generated code, so the probe
    # would compile new classes on every micro-batch
    return clash if clash.count() > 0 else None


def process_batch(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, out_dir: str,
    cfg: PipelineConfig,
) -> None:
    records = parse_records(batch_df, cfg).persist()
    try:
        # Verdicts in sequential-commit order: earlier batches' spans
        # committed before any turn of this one, so a turn colliding
        # with them always rolls back; the within-batch replay then
        # runs over the remaining turns only (a rolled-back turn frees
        # its other keys for later turns, as in the cascade).
        clash = _clash_turns(spark, records, out_dir, batch_id)
        invalid_turns, _ = resolve_span_conflicts(
            spark, drop_conflicted(records, clash), cfg.max_conflict_turns
        )
        if clash is not None:
            invalid_turns = clash if invalid_turns is None else clash.unionByName(invalid_turns)
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
