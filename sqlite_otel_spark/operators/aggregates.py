"""A1-A6: accounting / rollup aggregations (SURVEY §2.6).

The reference's aggregations are operational accounting: per-request
size+type logging (handlers/handler_common.go:55-64), per-table row
counts (the correctness oracle, DOCKER.md:296-298), size-triggered
rotation and top-K/age-based backup retention (logging/rotation.go).
BASELINE.json promotes these to first-class per-sink aggregates; all are
built-in hash aggregations (partial + final automatically) — no UDAFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def request_accounting(routed: DataFrame, rejects: DataFrame) -> DataFrame:
    """A1: per-signal accepted/rejected counts + byte volume (the
    handler's Debug/Info accounting, handler_common.go:55-64)."""
    acc = routed.groupBy("signal_type").agg(
        F.count(F.lit(1)).alias("accepted"),
        F.sum("n_bytes").alias("accepted_bytes"),
    )
    rej = rejects.groupBy("signal_type").agg(
        F.count(F.lit(1)).alias("rejected"),
        F.sum("n_bytes").alias("rejected_bytes"),
    )
    return acc.join(rej, "signal_type", "full").na.fill(
        0, ["accepted", "accepted_bytes", "rejected", "rejected_bytes"]
    )


def sink_counts(sinks: dict[str, DataFrame]) -> dict[str, int]:
    """A2: per-sink row counts — the north-rule count-equality oracle.
    ONE Spark action for all seven sinks: each sink's rows are tagged
    with its name, the tagged (one-column) frames are unioned, and a
    single ``groupBy("sink").count()`` counts them: the seven branches
    feed one shuffle instead of one global count each, so under AQE the
    call runs 6 jobs rather than 12 (4 cores) and generates fewer
    classes. An empty sink forms no group and counts 0."""
    from functools import reduce

    tagged = reduce(
        DataFrame.union,
        [df.select(F.lit(name).alias("sink")) for name, df in sinks.items()],
    )
    got = {r["sink"]: r["count"] for r in tagged.groupBy("sink").count().collect()}
    return {name: got.get(name, 0) for name in sinks}


def counts_by_signal_tool(routed: DataFrame) -> DataFrame:
    """A2 by tool: groupBy(signal_type, tool).count()."""
    return routed.groupBy("signal_type", "tool").agg(F.count(F.lit(1)).alias("n_turns"))


def counts_by_time_bucket(routed: DataFrame, bucket: str = "1 hour") -> DataFrame:
    """A3: tumbling-window counts by signal and tool on the transcript
    timestamp (north_star: 'counts by signal type, tool, time bucket via
    window on ts')."""
    return (
        routed.groupBy(F.window("ts", bucket).alias("w"), "signal_type", "tool")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("w.start").alias("bucket_start"),
            "signal_type", "tool", "n_turns",
        )
    )


def session_counts(df: DataFrame, key: str, ts_col: str = "ts",
                   gap: str = "10 minutes",
                   value_col: str | None = None) -> DataFrame:
    """A3 (session form): per-key session windows — a new session starts
    when an event arrives >= gap after the previous one; session_end is
    last_event + gap (Spark ``session_window`` semantics; in streaming
    the same expression works under a watermark). SQL-equivalent:
    gaps-and-islands (lag + running sum of session starts)."""
    aggs = [F.count(F.lit(1)).alias("n_events")]
    out_cols = ["n_events"]
    if value_col is not None:
        # Sum cent-scaled integers, not floats: float sums are
        # order-dependent and a post-hoc round(...,2) can disagree with
        # the oracle's own summation order at the last digit on .xx5
        # ties. Integer sums are associative -> deterministic under any
        # partitioning.
        cents = F.round(F.col(value_col) * 100).cast("long")
        aggs.append((F.sum(cents) / 100.0).alias("sum_value"))
        out_cols.append("sum_value")
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), key)
        .agg(*aggs)
        .select(
            key,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            *out_cols,
        )
    )


def retention_top_k(df: DataFrame, key: str, order_col: str, k: int,
                    max_age_days: int | None = None,
                    now_col: str | None = None) -> DataFrame:
    """A5: the rotation-backup retention analogue — keep the newest K rows
    per key (logging/rotation.go:153-165 sort desc + top-K) and drop rows
    older than max_age_days relative to the newest (rotation.go:168-185).
    The reference's only sort/ranking operator."""
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    out = df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")
    if max_age_days is not None:
        ref = (
            F.max(order_col).over(Window.partitionBy(key))
            if now_col is None
            else F.col(now_col)
        )
        out = (
            out.withColumn("_retention_ref", ref)
            .filter(
                F.col(order_col)
                >= F.col("_retention_ref") - F.expr(f"INTERVAL {max_age_days} DAYS")
            )
            .drop("_retention_ref")
        )
    return out
