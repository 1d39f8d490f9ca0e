"""The collector's write path as named stages, and the batch plan that
composes them: parse -> admit -> dims/facts -> sinks -> aggregates.

Spark rebuild of the reference's request lifecycle (SURVEY §3): one
declarative DAG per run instead of one goroutine+transaction per HTTP
request. Batch (``run_pipeline``), checkpoint buckets
(``plans/checkpoint.py``) and streaming micro-batches
(``streaming/stream.py``) run the same stage functions:

    parse_records   Arrow mapInArrow parse (P1-P11, F1-F7,
                    operators/records.py) + hash surrogate ids on the
                    flat record stream (enrich_record_ids)
    admit           reject sink (F1-F7 failures + spans-PK conflict
                    rejects) and the conflict-free record stream
    fact_sinks      spans / log_records / metric_data_points + rejects:
                    filter+project over the admitted stream
    dim_touches     the dimension-touch rows one input slice commits
                    (checkpoint bucket, micro-batch)
    commit_slice    admit -> fact_sinks + dim_touches -> write_tables
                    into the slice's own leaf
    build_dims      resources / scopes / metrics (D1-D3) from record or
                    touch rows

Each caller owns only its policy; all three write through
``write_tables``, so the sink layout options hold on every path:

    caller          conflict verdicts          materialize    write_tables
    run_pipeline    resolve_span_conflicts     persist() or   overwrite;
                    over the whole input       staging_dir    dims from the
                                                              record stream
    checkpoint      resolve_span_conflicts     persist() once commit_slice,
                    over the whole input,      per run;       leaf
                    saved in _control/         buckets filter /bucket=N;
                                               the stream     dims at
                                                              finalize
    stream          resolve_span_conflicts     persist() per  commit_slice,
                    over the micro-batch, the  micro-batch    leaf
                    spans of batches < N as                   /batch=N;
                    its history                               dims on read

Batch stage map:

    read transcripts                 (S1 — source)
    [salted repartition on conv_id]  (north-rule §4.2.1 — only when the
                                      input layout is conversation-
                                      clustered; parquet scan splits are
                                      byte-balanced already)
    parse_records                    (one Python pass emitting the flat
                                      record stream)
    persist()                        (shared upstream of the 3-way fan-out,
                                      R1; flat schema -> pruned rescans)
    cross-turn span-PK resolution    (D4 cascade, single aggregation)
    admit                            (rejects + conflict anti-join)
    build_dims                       (D1-D3, dedup + surrogate keys)
    fact_sinks                       (filter+project; the D5 FKs were
                                      resolved at parse)
    role/tool broadcast enrichment   (D5 graft dims)
    sinks                            (S3)
    collect_aggregates               (A1-A3: one fine aggregate over the
                                      routed stream, folded on the driver)

Shuffle inventory (what actually moves at 100 TB):
 - parse + id resolution + fact filter/project: narrow, ZERO
   shuffles end-to-end from scan to fact sink;
 - dim dedup: one shuffle each over the (tiny) distinct dim keys, with
   map-side partial aggregation;
 - span-conflict detection: one groupBy over (trace_id, span_id) —
   unavoidable; it IS the global PK;
 - aggregates: partial+final hash agg, AQE-coalesced.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.operators import aggregates as agg
from sqlite_otel_spark.operators import facts as facts_ops
from sqlite_otel_spark.operators.conflicts import drop_conflicted, resolve_span_conflicts
from sqlite_otel_spark.operators.dims import (
    METRIC_DEF_COLS,
    RESOURCE_NK,
    SCOPE_NK,
    build_metric_defs,
    build_resources,
    build_scopes,
    enrich_record_ids,
)
from sqlite_otel_spark.operators.enrich import enrich, role_dim, tool_dim
from sqlite_otel_spark.operators.records import to_records

DIM_TOUCH_TABLES = ("resources_touch", "scopes_touch", "metric_defs_touch")
# Partitions each hot conversation spreads over under salted_repartition.
SALT_BUCKETS = 8


@dataclass
class PipelineResult:
    sinks: dict[str, DataFrame]
    routed: DataFrame
    n_conflict_invalid: int = 0
    persisted: list = field(default_factory=list)

    def unpersist(self) -> None:
        for df in self.persisted:
            df.unpersist()


def parse_records(src: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Transcripts -> the flat record stream with surrogate ids resolved.
    enrich_record_ids swaps the fat dim-key strings on fact rows for
    8-byte ids before the caller materializes the stream."""
    return enrich_record_ids(
        to_records(src, cfg.max_text_bytes, emit_text=cfg.emit_text)
    )


def admit(
    records: DataFrame, invalid_turns: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """(valid, rejects): the reject sink holds the turns that failed
    parse/validation plus the turns the spans-PK verdicts invalidated
    (the rolled-back transactions); ``valid`` is the record stream with
    those verdict turns anti-joined out."""
    rejects = facts_ops.build_rejects(records)
    if invalid_turns is not None:
        rejects = rejects.unionByName(
            facts_ops.conflict_rejects(records, invalid_turns)
        )
    return drop_conflicted(records, invalid_turns), rejects


def build_dims(
    resource_rows: DataFrame, scope_rows: DataFrame, metric_def_rows: DataFrame
) -> dict[str, DataFrame]:
    """The three dimension sinks. The batch plan passes its record stream
    for all three; checkpoint and stream pass the touch tables written
    from ``dim_touches``, which keep ``rec_kind`` so the same builders
    run over them."""
    return {
        "resources": build_resources(resource_rows),
        "instrumentation_scopes": build_scopes(scope_rows),
        "metrics": build_metric_defs(metric_def_rows),
    }


def read_touch_dims(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """Dimensions deduplicated from every committed touch under
    ``out_dir`` (checkpoint buckets or micro-batches): hash ids are pure
    functions of the natural key, so touches from independent slices
    merge without coordination."""
    return build_dims(
        *(spark.read.parquet(f"{out_dir}/{t}") for t in DIM_TOUCH_TABLES)
    )


# The four fact sinks, in ``fact_sinks`` order: the tables day-partitioned
# by ``write_tables`` and counted in the checkpoint manifest.
FACT_TABLES = ("spans", "log_records", "metric_data_points", "rejects")


def fact_sinks(valid: DataFrame, rejects: DataFrame) -> dict[str, DataFrame]:
    """The four fact sinks every caller commits (batch run, checkpoint
    bucket, micro-batch): final rows, with the surrogate ids
    ``parse_records`` resolved."""
    return {
        "spans": facts_ops.build_spans(valid),
        "log_records": facts_ops.build_log_records(valid),
        "metric_data_points": facts_ops.build_points(valid),
        "rejects": rejects,
    }


def dim_touches(valid: DataFrame) -> dict[str, DataFrame]:
    """One input slice's (checkpoint bucket, micro-batch) contribution to
    the dims, merged across slices by ``read_touch_dims``."""

    def touch(kind: str, cols) -> DataFrame:
        return valid.filter(F.col("rec_kind") == kind).select("rec_kind", *cols)

    return {
        "resources_touch": touch("resource", RESOURCE_NK).dropDuplicates(),
        "scopes_touch": touch("scope", SCOPE_NK).dropDuplicates(),
        "metric_defs_touch": touch("metric_def", METRIC_DEF_COLS),
    }


def salted_repartition(df: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """North-rule §4.2.1: hot conversations (10%+ of turns in one conv_id
    in the fixture) would pin a partition if the input arrived clustered
    by conversation. Repartitioning on (conv_id, salt(turn_idx)) spreads
    each hot conversation over ``SALT_BUCKETS`` partitions while keeping
    unrelated conversations hashed apart. Parse is embarrassingly
    parallel, so no de-salting is ever needed — downstream wide ops
    shuffle on their own keys."""
    salt = F.pmod(F.xxhash64("turn_idx"), F.lit(SALT_BUCKETS))
    if n_partitions:
        return df.repartition(n_partitions, F.col("conv_id"), salt)
    return df.repartition(F.col("conv_id"), salt)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
    repartition_to: int | None = None,
    do_salt: bool = False,
) -> PipelineResult:
    """``do_salt`` defaults OFF (round-4 measurement): parse->facts is
    narrow, so on byte-balanced scan splits the salt is a pure extra
    full-corpus shuffle — the matched-window skew experiment clocked
    salt-on at ~2x the salt-off wall even with 30% of turns in one
    conv_id (BENCH_r4: skew_salt_speedup 0.486). Turn it ON only for
    conversation-CLUSTERED ingest layouts (sorted-by-conv files /
    coarse row groups), where a handful of scan splits would otherwise
    pin the whole parse stage — bench.py measures that layout
    explicitly (skew_clustered_* rows). AQE skew-join handling stays on
    in both modes."""
    cfg = cfg or PipelineConfig()

    src = salted_repartition(transcripts, repartition_to) if do_salt else transcripts

    records_all = parse_records(src, cfg)
    # One materialization shared by the reject sink, the conflict pass and
    # the 3-way fan-out (R1): without it every sink would re-run the UDF.
    # The flat schema means each downstream scan prunes to its own columns;
    # enrich_record_ids already swapped the fat dim-key strings on fact
    # rows for 8-byte surrogate ids before anything lands in the cache.
    persisted = []
    if cfg.staging_dir:
        # 100 TB form: stage the stream as parquet partitioned by
        # rec_kind — per-sink reads partition-prune to their kind, and
        # executor memory never holds the corpus.
        records_all.write.mode("overwrite").partitionBy("rec_kind").option(
            "compression", cfg.compression
        ).parquet(cfg.staging_dir)
        records_all = spark.read.parquet(cfg.staging_dir)
    else:
        records_all = records_all.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(records_all)

    invalid_turns, n_invalid = resolve_span_conflicts(
        spark, records_all, cfg.max_conflict_turns
    )
    valid, rejects = admit(records_all, invalid_turns)

    routed = enrich(facts_ops.build_routed(valid), role_dim(spark), tool_dim(spark))

    return PipelineResult(
        sinks={**build_dims(valid, valid, valid), **fact_sinks(valid, rejects)},
        routed=routed,
        n_conflict_invalid=n_invalid,
        persisted=persisted,
    )


# Spark codec names -> pyarrow codec names for the row-width probe.
# Spark-legal names pyarrow doesn't know ('uncompressed', 'lz4_raw',
# 'lz4raw') would raise inside pyarrow.parquet.write_table (ADVICE r2 #3).
_PYARROW_CODEC = {
    "uncompressed": "none", "none": "none", "snappy": "snappy",
    "gzip": "gzip", "zstd": "zstd", "lz4": "lz4", "lz4_raw": "lz4",
    "lz4raw": "lz4", "brotli": "brotli",
}


def derive_max_records_per_file(
    df: DataFrame, target_bytes: int, compression: str, sample_rows: int = 4096
) -> int | None:
    """A4 size-based rotation analogue (logging/rotation.go:34-46 rotates
    the log when file size >= MaxSize): derive a records-per-file cap
    from the MEASURED parquet-encoded width of a bounded row sample —
    the sample is written through pyarrow with the sink's own codec, so
    the bytes/row estimate reflects real encoding+compression, not an
    in-memory guess. Dictionary/RLE compress better at full file size
    than on a 4k sample, so files land at-or-under target (the reference
    guarantees the same direction: rotate at >= MaxSize)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    pa_codec = _PYARROW_CODEC.get(compression.lower())
    if pa_codec is None:
        return None  # unknown codec: caller falls back to the static cap
    sample = df.limit(sample_rows).toPandas()
    if len(sample) == 0:
        return 1
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(sample, preserve_index=False), buf,
                   compression=pa_codec)
    bytes_per_row = max(1.0, buf.tell() / len(sample))
    return max(1, int(target_bytes / bytes_per_row))


def write_tables(
    tables: dict[str, DataFrame],
    out_dir: str,
    cfg: PipelineConfig | None = None,
    leaf: str = "",
    observe: dict[str, Observation] | None = None,
) -> None:
    """S3/S4: the one sink writer (≙ the reference's per-request SQLite
    transaction + schema auto-init, database/db.go:53-165): each table
    overwrites the parquet directory ``{out_dir}/{name}{leaf}``,
    committed atomically per table, in a leaf its caller owns:

        write_sinks      batch run          leaf=""
        commit_slice     one bucket         leaf="/bucket={b}"
                         one micro-batch    leaf="/batch={id}"
        finalize         checkpoint dims    leaf="" (out_dir .../_final)

    Layout holds on every path: ``cfg.compression``; file rotation (A4)
    with ``target_file_bytes`` deriving maxRecordsPerFile from measured
    parquet row width (see derive_max_records_per_file), else the
    static ``max_records_per_file`` cap; and, with
    ``partition_facts_by_day``, the fact sinks partitioned by ts_day.

    ``observe`` (the checkpoint's manifest counts) maps table names to
    Observations of the written row count. They attach after
    the rotation probe: an Observation completes on the first action
    over its DataFrame, and the probe's sample would complete it with a
    partial count.

    The tables are independent sub-DAGs (over the shared persisted
    record stream, for the fact and touch tables), so they are submitted
    CONCURRENTLY from driver threads (Spark's FIFO scheduler interleaves
    their stages): sequential submission would leave most of the
    cluster idle on the small dimension writes while paying full
    scheduling latency once per table."""
    cfg = cfg or PipelineConfig()

    def write_one(item):
        name, df = item
        per_file = None
        if cfg.target_file_bytes is not None:
            per_file = derive_max_records_per_file(
                df, cfg.target_file_bytes, cfg.compression
            )
        if per_file is None:
            per_file = cfg.max_records_per_file
        partition_cols: list[str] = []
        if (cfg.partition_facts_by_day and "ts" in df.columns
                and name in FACT_TABLES):
            # M4 partition layout: days(ts) as a directory-level
            # partition column — time-ranged scans prune partitions
            # before reading a byte (the parquet analogue of the
            # Iceberg days() transform the north_star names).
            df = df.withColumn("ts_day", F.to_date("ts"))
            partition_cols = ["ts_day"]
        if observe and name in observe:
            df = df.observe(observe[name], F.count(F.lit(1)).alias("n"))
        w = (
            df.write.mode("overwrite")
            .option("compression", cfg.compression)
            .option("maxRecordsPerFile", per_file)
        )
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(f"{out_dir}/{name}{leaf}")

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        list(pool.map(write_one, tables.items()))


def commit_slice(
    records: DataFrame,
    invalid_turns: DataFrame | None,
    out_dir: str,
    cfg: PipelineConfig,
    leaf: str,
    observe: dict[str, Observation] | None = None,
) -> None:
    """Commit one input slice (a checkpoint bucket, a micro-batch) into
    the leaf the caller owns: a replay of the slice overwrites whatever
    a failed attempt left there."""
    valid, rejects = admit(records, invalid_turns)
    write_tables(
        {**fact_sinks(valid, rejects), **dim_touches(valid)},
        out_dir, cfg, leaf=leaf, observe=observe,
    )


def nothing_committed(e: AnalysisException) -> bool:
    """True when reading a sink failed because no file is committed
    there yet: the directory is missing, or a crashed first write left
    only its ``_temporary`` directory. Any other read error is real."""
    return e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def write_sinks(result: PipelineResult, out_dir: str, cfg: PipelineConfig | None = None) -> None:
    """The batch run's seven sinks through ``write_tables``."""
    write_tables(result.sinks, out_dir, cfg)


def collect_aggregates(result: PipelineResult) -> dict[str, list]:
    """A1-A3 as driver lists: ``aggregates.fine_aggregate`` taken in ONE
    collect (under AQE, several jobs) and folded by
    ``aggregates.fold_aggregates``."""
    return agg.fold_aggregates(
        agg.fine_aggregate(result.routed, result.sinks["rejects"]).collect()
    )
