"""A1-A6: accounting / rollup aggregations (SURVEY §2.6).

The reference's aggregations are operational accounting: per-request
size+type logging (handlers/handler_common.go:55-64), per-table row
counts (the correctness oracle, DOCKER.md:296-298), size-triggered
rotation and top-K/age-based backup retention (logging/rotation.go).
BASELINE.json promotes these to first-class per-sink aggregates; all are
built-in hash aggregations (partial + final automatically) — no UDAFs.

A1, A2 by tool and A3 have ONE definition: ``fine_aggregate`` at the
finest grain, and ``fold_aggregates`` over its collected rows, which
``collect_aggregates`` and the pipeline query views read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fine_aggregate(routed: DataFrame, rejects: DataFrame) -> DataFrame:
    """A1-A3 at their finest grain: accepted turns per (1-hour window
    start ``bucket_start``, signal_type, tool) with count ``n`` and byte
    sum ``n_bytes``, plus the rejects per signal_type (``reject`` true).
    One hash aggregate per side: a GROUPING SETS form expanded every
    turn row 3x (round 6, guide §2.3)."""
    fine = routed.groupBy(
        F.window("ts", "1 hour")["start"].alias("bucket_start"),
        "signal_type", "tool",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_bytes").alias("n_bytes"),
        F.lit(False).alias("reject"),
    )
    rej = rejects.groupBy("signal_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_bytes").alias("n_bytes"),
        F.lit(True).alias("reject"),
    )
    return fine.unionByName(rej, allowMissingColumns=True)


def fold_aggregates(rows) -> dict[str, list]:
    """The collected ``fine_aggregate`` rows folded on the driver into
    ``accounting`` (signal_type, accepted, accepted_bytes, rejected,
    rejected_bytes), ``by_signal_tool`` (signal_type, tool, n_turns) and
    ``by_time_bucket`` (bucket_start, signal_type, tool, n_turns);
    counts and int64 byte sums fold associatively."""
    acc: dict = {}
    by_tool: dict = {}
    by_bucket = []
    for r in rows:
        a = acc.setdefault(r.signal_type, [r.signal_type, 0, 0, 0, 0])
        if r.reject:
            a[3:5] = [r.n, r.n_bytes or 0]
            continue
        a[1] += r.n
        a[2] += r.n_bytes or 0
        key = (r.signal_type, r.tool)
        by_tool[key] = by_tool.get(key, 0) + r.n
        by_bucket.append((r.bucket_start, r.signal_type, r.tool, r.n))
    return {
        "accounting": [tuple(v) for v in acc.values()],
        "by_signal_tool": [(s, t, n) for (s, t), n in by_tool.items()],
        "by_time_bucket": by_bucket,
    }


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
