"""P2-P7 + S2/R1: fact extraction and routing (SURVEY §2.3, §2.5).

The parse stage (operators/records.py) already flattened the OTLP
envelope — the reference's triple/quadruple nested loops
(database/traces.go:22-83, database/logs.go:22-81,
database/metrics.go:27-88) — into a flat record stream discriminated by
``rec_kind``, and enrich_record_ids (operators/dims.py) already put
the D5 surrogate keys on it. Each sink here is a pruned filter+project
over that stream: all JVM-side, whole-stage-codegen eligible, no join
and no shuffle, and (crucially at scale) each sink deserializes only
its own columns from the cached/staged records.

Each fact row carries graft provenance columns (conv_id, turn_idx, role,
tool, ts) in addition to the reference's column set (database/db.go:
79-143): they power the per-turn text-equality invariant, the tool/time
aggregates, and the per-partition lineage — the reference's analogue is
its per-request accounting (handlers/handler_common.go:55-64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sqlite_otel_spark.operators.conflicts import join_verdicts

LINEAGE = ["conv_id", "turn_idx", "role", "tool", "ts"]

SPAN_COLS = [
    "trace_id", "span_id", "trace_state", "parent_span_id", "name", "kind",
    "start_time_unix_nano", "end_time_unix_nano", "attributes", "events",
    "links", "status_code", "status_message", "resource_id", "scope_id",
]
LOG_COLS = [
    "time_unix_nano", "observed_time_unix_nano", "severity_number",
    "severity_text", "body", "attributes", "trace_id", "span_id", "flags",
    "resource_id", "scope_id",
]
POINT_COLS = [
    "metric_id", "attributes", "start_time_unix_nano", "time_unix_nano",
    "value_double", "value_int", "exemplars", "flags",
]


def _kind(records: DataFrame, kind: str, cols: list[str]) -> DataFrame:
    return records.filter(F.col("rec_kind") == kind).select(*LINEAGE, *cols)


def build_spans(records: DataFrame) -> DataFrame:
    """spans sink (db.go:79-98). Cross-turn PK conflicts must already be
    resolved (operators/conflicts.py); within-turn duplicates were
    rejected at parse."""
    return _kind(records, "span", SPAN_COLS)


def build_log_records(records: DataFrame) -> DataFrame:
    """log_records sink (db.go:128-143); resource_id=0 rows had a null
    resource natural key (logs.go:29-35)."""
    return _kind(records, "log", LOG_COLS)


def build_points(records: DataFrame) -> DataFrame:
    """metric_data_points sink (db.go:114-125): metric_id is the FK to the
    metrics dim via its 4-part natural key (name, metric_type,
    resource_id, scope_id), which the rows keep alongside it."""
    return _kind(
        records, "point",
        [*POINT_COLS, "metric_name", "metric_type", "resource_id", "scope_id"],
    )


def build_rejects(records: DataFrame) -> DataFrame:
    """Quarantine sink: the reference answers 4xx/5xx and logs the failure
    (handler_common.go:38-53); we persist the accounting row."""
    return records.filter(
        (F.col("rec_kind") == "turn") & F.col("error").isNotNull()
    ).select(*LINEAGE, "signal_type", F.col("error").alias("reason"), "n_bytes")


def build_routed(records: DataFrame) -> DataFrame:
    """Accepted turns with their routed signal — the per-turn text
    equality surface (north_rule: 'routed rows must satisfy per-turn text
    equality under stable (conv_id, turn_idx) ordering')."""
    return records.filter(
        (F.col("rec_kind") == "turn") & F.col("error").isNull()
    ).select(*LINEAGE, "signal_type", "text", "n_bytes")


def conflict_rejects(records: DataFrame, invalid_turns: DataFrame) -> DataFrame:
    """Reject rows for turns invalidated by the cross-turn spans-PK
    cascade (the rolled-back transactions, database/traces.go:15)."""
    return (
        join_verdicts(build_routed(records), invalid_turns, "leftsemi")
        .select(
            *LINEAGE, "signal_type",
            F.lit("spans PK violation").alias("reason"), "n_bytes",
        )
    )
