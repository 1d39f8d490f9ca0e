"""Pipeline configuration.

Mirrors the reference collector's tunables (handlers/handler_common.go:29
10 MB body cap; main.go:41-44 rotation defaults) plus the Spark-side knobs
that callers actually set (staging, checkpoint buckets, stream admission,
sink layout).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class PipelineConfig:
    # F3 size guard — reference: handlers/handler_common.go:29 (10 MB).
    # Tests lower this to exercise the oversize-reject path.
    max_text_bytes: int = 10 * 1024 * 1024

    # Where the parsed record stream materializes for the sink fan-out:
    #  - None (default): in-memory columnar cache (MEMORY_AND_DISK) —
    #    right for micro-batches and the sandbox;
    #  - a directory path: write the stream ONCE as parquet partitioned
    #    by rec_kind and read it back — the 100 TB form: no executor-RAM
    #    dependence, per-sink scans prune to their rec_kind partition,
    #    and the staging table doubles as a restartable artifact.
    staging_dir: str | None = None

    # Keep the raw transcript text on routed/turn records. The reference
    # collector never persists raw request bodies (it stores only parsed
    # records, handlers/handler_common.go:33-45); text retention is a
    # graft convenience for the per-turn text-equality surface. False
    # drops text right after parse — at 3M turns that removes ~2.7 GB of
    # Arrow transfer + cache traffic per run (the single largest column).
    emit_text: bool = True

    # Checkpoint/lineage (SURVEY §4.2.4): number of resumable input buckets.
    checkpoint_buckets: int = 16

    # Cap on driver-side sequential resolution of cross-turn span PK
    # conflicts (SURVEY §7 risk (c)). Conflicting turns are pathological
    # (duplicate trace/span ids); the cap guards against a skewed adversarial
    # input collecting too much to the driver.
    max_conflict_turns: int = 100_000

    # Streaming admission control (SURVEY §2.8 backpressure/limits).
    # The reference caps each request body at 10 MB
    # (handlers/handler_common.go:29) and ingests one request per
    # micro-batch; the file-source analogues are maxFilesPerTrigger
    # (per-request cadence) and maxBytesPerTrigger (byte admission cap,
    # file granularity). None disables the corresponding option.
    max_files_per_trigger: int | None = 1
    max_bytes_per_trigger: int | None = None

    # Sink parquet layout. ``max_records_per_file`` is the A4
    # size-rotation analogue; ``target_file_bytes`` derives a per-sink
    # records-per-file cap from measured average row width instead
    # (mirrors logging/rotation.go:34-46 rotating on file SIZE) and
    # takes precedence when set.
    max_records_per_file: int = 1_000_000
    target_file_bytes: int | None = None
    compression: str = "zstd"

    # Sink partition layout (SURVEY §7 M4: "partition layout
    # (signal_type, days(ts))"). When True, the fact sinks (spans,
    # log_records, metric_data_points, rejects) are written partitioned
    # by a derived ts_day column (days(ts) — the Iceberg transform's
    # parquet equivalent) on every path — batch, checkpoint buckets and
    # stream micro-batches share one writer — so time-ranged reads
    # partition-prune at the directory level; dimension sinks stay
    # unpartitioned (tiny). Off by default: the correctness surface
    # compares whole sinks.
    partition_facts_by_day: bool = False
