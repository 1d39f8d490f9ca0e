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

One parse, shared verdicts, per-bucket commit — the batch plan's stages
with a bucket filter before the write:

 parse (once per run): parse_records over the input, persisted. A run
   without saved verdicts parses every turn (the spans PK is global);
   a resume with saved verdicts parses only its uncommitted buckets.

 verdicts (global, deterministic): resolve_span_conflicts over the
   parsed stream — the batch plan's resolver and its adversarial-input
   cap — saved under _control/ and read back on resume, so every
   bucket of every run is admitted against the same invalid-turn set.

 commit (per bucket, up to MAX_CONCURRENT_BUCKETS in flight): a filter
   of the parsed stream -> commit_slice, the micro-batch's commit too:
   admit -> fact_sinks + dim_touches (hash surrogate ids are pure
   functions of natural keys, so buckets never coordinate) -> the batch
   plan's writer (``write_tables``, leaf ``/bucket=N``, so the sink
   layout options hold as in a batch run), counting the fact rows with
   observed metrics on the write itself -> manifest row with per-sink
   counts (the lineage record).

 finalize (idempotent): build the final dims from every bucket's
   touches with the batch plan's own builders (pipeline.read_touch_dims;
   first-definition-wins uses the (conv_id, turn_idx, pos) stamps, so
   the outcome is independent of bucket processing order) and write
   them under ``_final/`` with ``write_tables``. The parse
   kernel drops repeat resource/scope touches of log/metric turns within
   one Arrow batch, which may span buckets; those turns are never
   invalidated, and finalize runs only once every bucket has committed,
   so the union of the buckets' touches is the full dim key set.
"""

from __future__ import annotations

import json
import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.operators.conflicts import resolve_span_conflicts
from sqlite_otel_spark.plans.pipeline import (
    FACT_TABLES,
    commit_slice,
    nothing_committed,
    parse_records,
    read_touch_dims,
    write_tables,
)
from sqlite_otel_spark.session import local_frame

# Bucket pipelines the driver submits concurrently: independent sub-DAGs
# with disjoint output paths; the resume unit is still one bucket.
MAX_CONCURRENT_BUCKETS = 4


def bucket_col(cfg: PipelineConfig):
    return F.pmod(F.xxhash64("conv_id"), F.lit(cfg.checkpoint_buckets)).cast("int")


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

    committed = read_manifest_buckets(spark, out_dir)
    processed, skipped = [], []
    todo = []
    for b in range(cfg.checkpoint_buckets):
        (skipped if b in committed else todo).append(b)

    # Verdicts are a pure function of the whole input: computed once,
    # read back on resume, which then parses only what it commits.
    control_path = f"{out_dir}/_control/invalid_turns.json"
    have_verdicts = os.path.exists(control_path)
    src = (
        transcripts.filter(bucket_col(cfg).isin(todo))
        if have_verdicts
        else transcripts
    )
    records = parse_records(src, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if have_verdicts:
            with open(control_path) as f:
                invalid = [tuple(x) for x in json.load(f)]
            # A JVM local relation, broadcast-built per bucket job: no
            # Python-worker scan per build (see session.local_frame)
            invalid_df = (
                local_frame(spark, invalid, "conv_id string, turn_idx int")
                if invalid
                else None
            )
        else:
            invalid_df, _ = resolve_span_conflicts(
                spark, records, cfg.max_conflict_turns
            )
            invalid = [] if invalid_df is None else [
                (r.conv_id, r.turn_idx) for r in invalid_df.collect()
            ]
            with open(control_path, "w") as f:
                json.dump(invalid, f)

        def do_bucket(b: int) -> int:
            # The manifest's row counts ride the write itself as observed
            # metrics: the commit must not rescan its own output.
            observed = {t: Observation(f"rows_{t}_b{b}") for t in FACT_TABLES}
            commit_slice(records.filter(bucket_col(cfg) == b), invalid_df,
                         out_dir, cfg, f"/bucket={b}", observed)
            counts = {t: obs.get["n"] for t, obs in observed.items()}
            _write_manifest_row(spark, out_dir, b, run_id, counts)
            return b

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
        records.unpersist()
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
    except AnalysisException as e:
        if not nothing_committed(e):
            raise
        return set()


def read_manifest(spark, out_dir) -> DataFrame:
    return spark.read.option("recursiveFileLookup", "true").parquet(
        f"{out_dir}/_manifest"
    )


# ---------------------------------------------------------------------------
# Finalize — dims + aggregates from committed buckets (idempotent).
# ---------------------------------------------------------------------------


def finalize(spark: SparkSession, out_dir: str, cfg: PipelineConfig) -> None:
    write_tables(read_touch_dims(spark, out_dir), f"{out_dir}/_final", cfg)


def read_sinks(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    out = {t: spark.read.parquet(f"{out_dir}/{t}") for t in FACT_TABLES}
    for t in ("resources", "instrumentation_scopes", "metrics"):
        out[t] = spark.read.parquet(f"{out_dir}/_final/{t}")
    return out
