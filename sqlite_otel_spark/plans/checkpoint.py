"""M5: per-partition checkpoint/lineage + resume (north-rule §4.2.4).

Mirrors the reference's durability contract: each HTTP request is one
SQLite transaction that either fully commits or leaves no trace
(database/traces.go:11-15,86), and the execution log accounts for every
request (handlers/handler_common.go:55-64; logging/logger.go:131-143).
Here the unit of commit is an input BUCKET (pmod(xxhash64(conv_id), B)):
a killed run resumes by anti-joining the manifest and reprocessing only
buckets without a manifest row. A bucket whose files half-wrote but
whose manifest row never landed is simply overwritten — bucket writes
are idempotent.

Two-stage design keeps resume sound despite the GLOBAL spans PK:

 stage A (global, cheap, deterministic): scan span keys with a
   lightweight extractor (no canonicalization), find duplicated keys,
   fully parse only the conflicting turns, replay the sequential commit
   order, persist the invalid-turn set under _control/. This is a pure
   function of the input, so any resume recomputes-or-reads the same
   verdicts.

 stage B (per bucket, embarrassingly parallel): the shared stages of
   plans/pipeline.py — parse_records -> admit (stage A's verdicts) ->
   fact_sinks + dim_touches (hash surrogate ids are pure functions of
   natural keys, so buckets never coordinate); write facts + this
   bucket's dimension touches -> append manifest row with per-sink
   counts (the lineage record). Up to MAX_CONCURRENT_BUCKETS bucket
   pipelines are in flight at once.

 finalize (idempotent): build the final dims from every bucket's
   touches with the batch plan's own builders (pipeline.read_touch_dims;
   first-definition-wins uses the (conv_id, turn_idx, pos) stamps, so
   the outcome is independent of bucket processing order).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.functions.parse import extract_span_keys, parse_turn
from sqlite_otel_spark.plans.pipeline import (
    admit,
    dim_touches,
    fact_sinks,
    parse_records,
    read_touch_dims,
)
from sqlite_otel_spark.session import local_frame

_KEYS_SCHEMA = ArrayType(
    StructType([
        StructField("trace_id", StringType()),
        StructField("span_id", StringType()),
    ])
)

FACT_TABLES = ("spans", "log_records", "metric_data_points", "rejects")
# Bucket pipelines the driver submits concurrently: independent sub-DAGs
# with disjoint output paths; the resume unit is still one bucket.
MAX_CONCURRENT_BUCKETS = 4


def bucket_col(cfg: PipelineConfig):
    return F.pmod(F.xxhash64("conv_id"), F.lit(cfg.checkpoint_buckets)).cast("int")


# ---------------------------------------------------------------------------
# Stage A — global span-PK verdicts.
# ---------------------------------------------------------------------------


def compute_invalid_turns(
    spark: SparkSession, transcripts: DataFrame, cfg: PipelineConfig
) -> list[tuple[str, int]]:
    from pyspark.sql.pandas.functions import pandas_udf

    max_bytes = cfg.max_text_bytes

    @pandas_udf(_KEYS_SCHEMA)
    def keys_udf(texts):
        return texts.map(lambda t: extract_span_keys(t, max_bytes))

    span_keys = (
        transcripts.filter(F.col("text").contains('"resourceSpans"'))
        .select("conv_id", "turn_idx", F.explode(keys_udf("text")).alias("k"))
        .select("conv_id", "turn_idx", "k.trace_id", "k.span_id")
    )
    dup = (
        span_keys.groupBy("trace_id", "span_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .drop("n")
    )
    cand_turns = (
        span_keys.join(dup, ["trace_id", "span_id"], "leftsemi")
        .select("conv_id", "turn_idx")
        .distinct()
    )
    cand = (
        transcripts.join(cand_turns, ["conv_id", "turn_idx"], "leftsemi")
        .select("conv_id", "turn_idx", "text")
        .limit(cfg.max_conflict_turns + 1)
        .collect()
    )
    if len(cand) > cfg.max_conflict_turns:
        raise RuntimeError("span-PK conflict set exceeds max_conflict_turns")

    # Full parse of the (rare) conflicting turns, then sequential replay.
    turns = []
    for r in sorted(cand, key=lambda r: (r.conv_id, r.turn_idx)):
        p = parse_turn(r.text, cfg.max_text_bytes)
        if p["error"] is None and p["signal_type"] == "trace":
            turns.append(((r.conv_id, r.turn_idx),
                          [(s["trace_id"], s["span_id"]) for s in p["spans"]]))
    committed: set[tuple] = set()
    invalid: list[tuple[str, int]] = []
    for turn, keys in turns:
        if any(k in committed for k in keys):
            invalid.append(turn)
        else:
            committed.update(keys)
    return invalid


# ---------------------------------------------------------------------------
# Stage B — per-bucket processing.
# ---------------------------------------------------------------------------


def _process_bucket(
    spark: SparkSession,
    bucket_df: DataFrame,
    invalid_turns: DataFrame | None,
    out_dir: str,
    bucket: int,
    cfg: PipelineConfig,
) -> dict:
    records = parse_records(bucket_df, cfg).persist()
    try:
        valid, rejects = admit(records, invalid_turns)
        outputs = {**fact_sinks(valid, rejects), **dim_touches(valid)}
        # Row counts ride the write itself as observed metrics — the
        # commit must not rescan its own output (7 extra scans/bucket).
        from pyspark.sql import Observation

        counts = {}
        for name, df in outputs.items():
            path = f"{out_dir}/{name}/bucket={bucket}"
            obs = Observation(f"rows_{name}_b{bucket}")
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).option("compression", cfg.compression).parquet(path)
            counts[name] = obs.get["n"]
        return counts
    finally:
        records.unpersist()


def run_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
    run_id: str = "run-0",
    fail_after_buckets: int | None = None,
) -> dict:
    """Process all buckets not yet in the manifest; returns
    {'processed': [...], 'skipped': [...]}. Raise injection via
    ``fail_after_buckets`` simulates a mid-run kill for the resume test."""
    cfg = cfg or PipelineConfig()
    os.makedirs(f"{out_dir}/_control", exist_ok=True)

    # Stage A verdicts: compute once, reuse on resume (pure function of input).
    control_path = f"{out_dir}/_control/invalid_turns.json"
    if os.path.exists(control_path):
        with open(control_path) as f:
            invalid = [tuple(x) for x in json.load(f)]
    else:
        invalid = compute_invalid_turns(spark, transcripts, cfg)
        with open(control_path, "w") as f:
            json.dump(invalid, f)
    # A JVM local relation, broadcast-built per bucket job: no
    # Python-worker scan per build (see session.local_frame)
    invalid_df = (
        local_frame(spark, invalid, "conv_id string, turn_idx int")
        if invalid
        else None
    )

    committed = read_manifest_buckets(spark, out_dir)
    with_bucket = transcripts.withColumn("bucket", bucket_col(cfg)).persist()
    processed, skipped = [], []
    todo = []
    for b in range(cfg.checkpoint_buckets):
        (skipped if b in committed else todo).append(b)

    def do_bucket(b: int) -> int:
        bucket_df = with_bucket.filter(F.col("bucket") == b).drop("bucket")
        counts = _process_bucket(spark, bucket_df, invalid_df, out_dir, b, cfg)
        _write_manifest_row(spark, out_dir, b, run_id, counts)
        return b

    try:
        if fail_after_buckets is not None:
            # deterministic sequential path for the kill/resume tests
            for b in todo:
                if len(processed) >= fail_after_buckets:
                    raise RuntimeError(
                        f"injected failure after {fail_after_buckets} buckets"
                    )
                processed.append(do_bucket(b))
        else:
            # Buckets are independent (hash surrogate ids need no
            # coordination; outputs + manifest rows land in disjoint
            # bucket=N paths), so submit several bucket pipelines
            # concurrently — Spark's scheduler interleaves their stages
            # and the commit granularity (resume unit) is unchanged.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=MAX_CONCURRENT_BUCKETS) as pool:
                for b in pool.map(do_bucket, todo):
                    processed.append(b)
    finally:
        with_bucket.unpersist()
    finalize(spark, out_dir, cfg)
    return {"processed": processed, "skipped": skipped}


def _write_manifest_row(spark, out_dir, bucket, run_id, counts) -> None:
    """One manifest row per bucket in its own directory — concurrent
    bucket commits never share a write path (parquet append into a
    shared dir would race on the committer's _temporary)."""
    row = [(bucket, run_id, *[counts[t] for t in FACT_TABLES])]
    schema = "bucket int, run_id string, " + ", ".join(f"n_{t} long" for t in FACT_TABLES)
    local_frame(spark, row, schema).write.mode("overwrite").parquet(
        f"{out_dir}/_manifest/bucket_{bucket}"
    )


def read_manifest_buckets(spark, out_dir) -> set[int]:
    try:
        return {r.bucket for r in read_manifest(spark, out_dir).collect()}
    except Exception:
        return set()


def read_manifest(spark, out_dir) -> DataFrame:
    return spark.read.option("recursiveFileLookup", "true").parquet(
        f"{out_dir}/_manifest"
    )


# ---------------------------------------------------------------------------
# Finalize — dims + aggregates from committed buckets (idempotent).
# ---------------------------------------------------------------------------


def finalize(spark: SparkSession, out_dir: str, cfg: PipelineConfig) -> None:
    for name, df in read_touch_dims(spark, out_dir).items():
        df.write.mode("overwrite").option("compression", cfg.compression).parquet(
            f"{out_dir}/_final/{name}"
        )


def read_sinks(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    out = {t: spark.read.parquet(f"{out_dir}/{t}") for t in FACT_TABLES}
    for t in ("resources", "instrumentation_scopes", "metrics"):
        out[t] = spark.read.parquet(f"{out_dir}/_final/{t}")
    return out
