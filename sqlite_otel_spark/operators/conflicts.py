"""D4: global spans PRIMARY KEY semantics across turns (SURVEY §2.4, §7c).

The reference enforces PRIMARY KEY(trace_id, span_id) in SQLite
(database/db.go:95): a turn whose span collides with an EARLIER COMMITTED
span fails entirely (transaction rollback), which can in turn free keys
for later turns — a sequential cascade:

    turn A commits span X
    turn B carries X and Y -> rejected (X taken); Y never commits
    turn C carries Y        -> accepted (B never committed)

Distributed resolution: only turns that contain a *globally duplicated*
key can be affected (keys unique to one turn can never collide). Those
turns are a vanishing fraction of real telemetry (duplicate span ids are
pathological), so a counts-only aggregation over the pruned span-key
projection finds the duplicated keys first and enforces the hard cap,
then a semi-join collects the (turn, key) pairs — provably bounded by
the cap — and the driver replays the sequential commit order over just
those pairs. The verdict set is broadcast back as an anti-join.
Exceeding the cap means the input is adversarial and the job fails
loudly (before any oversized group materializes on an executor or any
wide row reaches the driver) rather than OOMing.

Keys committed before the input (``history``: a micro-batch's earlier
batches, as SQLite's index holds earlier requests' spans) count as
committed before any turn, so a turn colliding with one rolls back and
frees its other keys; the cap counts those history rows too.

Canonical arrival order is (conv_id, turn_idx) — the graft's stable
ordering invariant (BASELINE.json input_hint) — with a null ``conv_id``
first, as Spark's ascending order puts it (``arrival_order``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlite_otel_spark.session import local_frame


class ConflictOverflowError(RuntimeError):
    pass


def arrival_order(conv_id: str | None, turn_idx: int) -> tuple:
    """Sort key of the canonical arrival order, ``conv_id`` nulls first."""
    return (conv_id is not None, conv_id or "", turn_idx)


def resolve_span_conflicts(
    spark: SparkSession, records: DataFrame, max_conflict_turns: int = 100_000,
    history: DataFrame | None = None,
) -> tuple[DataFrame | None, int]:
    """Return (invalid_turns_df | None, n_invalid) — turns rejected by the
    cross-turn spans PK cascade. ``records`` is the flat record stream
    (operators/records.py); locally-failed turns emitted no span rows and
    are transparently excluded. Two jobs over the pruned
    (conv_id, turn_idx, trace_id, span_id) projection: a counts-only agg
    that enforces the cap, then a bounded semi-join collect (the dup set
    is near-empty in sane inputs). The ``history`` keys ``records``
    carries join both passes as rows of no turn, flagged ``in_history``
    (``conv_id`` is nullable, so a null one marks nothing)."""
    span_keys = records.filter(F.col("rec_kind") == "span").select(
        "conv_id", "turn_idx", "trace_id", "span_id"
    )
    if history is not None:
        keys = ["trace_id", "span_id"]
        seen = history.select(*keys).join(span_keys.select(*keys), keys, "leftsemi")
        span_keys = span_keys.withColumn("in_history", F.lit(False)).unionByName(
            seen.withColumn("in_history", F.lit(True)), allowMissingColumns=True
        )
    # Pass 1 — duplicated keys via ONE partial+final count agg, fetched
    # with a LIMIT of cap+1 rows: the adversarial-input guard fires
    # BEFORE any per-key list materializes on an executor or any wide
    # row reaches the driver (a hot key under collect_list would
    # otherwise buffer its whole group first), and cap+1 bounds the
    # collect no matter how many keys are duplicated. Round 6 (guide
    # §2.4): the previous counts-only stats pass threw the dup-key rows
    # away, so pass 2 RE-RAN the whole groupBy from the cache as its
    # broadcast build side (~27 core-s + one extra job at 3M turns);
    # collecting the (bounded) keys here lets pass 2 probe a local
    # relation instead.
    dup_q = (
        span_keys.groupBy("trace_id", "span_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(max_conflict_turns + 1)
    )
    # Single-shot take: the default executeTake starts at 1 partition
    # and scales up 4x per wave, re-running the final agg as 3-4
    # SEQUENTIAL jobs whose scheduling latency exceeds the saved work
    # (measured 2.3 s -> 5.4 s at 3M turns). Covering every partition in
    # wave 1 keeps this one job; the map-side agg ran once either way.
    conf = spark.conf
    key = "spark.sql.limit.initialNumPartitions"
    prev = conf.get(key, None)
    try:
        conf.set(key, str(1 << 20))
        dup_rows = dup_q.collect()
    finally:
        if prev is None:
            conf.unset(key)
        else:
            conf.set(key, prev)
    if not dup_rows:
        return None, 0
    n_pairs = sum(r.n for r in dup_rows)
    if len(dup_rows) > max_conflict_turns or n_pairs > max_conflict_turns:
        raise ConflictOverflowError(
            f"more than {max_conflict_turns} span-PK-conflicting turn/key pairs; "
            "input looks adversarial (duplicate trace/span ids at scale)"
        )
    # Pass 2 — now provably bounded (n_pairs <= max_conflict_turns rows):
    # probe the pruned projection for the duplicated keys and collect
    # the flat (turn, key) pairs. Small dup sets (the sane-input case)
    # probe with an InSet FILTER pushed into the cache scan — measured
    # 0.3-0.5 s vs 1.6-2.3 s for the broadcast-semi-join probe at 3M
    # turns (no join, no broadcast build, batch-stat pruning intact).
    # The concat key makes the filter a SUPERSET under pathological
    # NUL-bearing ids, so the driver applies the exact set afterwards;
    # big dup sets (only reachable just under the cap) fall back to the
    # broadcast semi-join to keep literal lists out of the plan.
    dup_set = {(r.trace_id, r.span_id) for r in dup_rows}
    if len(dup_rows) <= 10_000:
        sep = "\x00"
        probe = span_keys.filter(
            F.concat_ws(sep, "trace_id", "span_id").isin(
                [f"{t}{sep}{s}" for t, s in dup_set]
            )
        )
    else:
        dup_df = local_frame(
            spark, sorted(dup_set), "trace_id string, span_id string"
        )
        probe = span_keys.join(
            F.broadcast(dup_df), ["trace_id", "span_id"], "leftsemi"
        )
    pair_rows = [
        r for r in probe.collect() if (r.trace_id, r.span_id) in dup_set
    ]

    # Sequential replay in canonical arrival order, history first.
    by_turn: dict[tuple, list[tuple]] = {}
    committed: set[tuple] = set()
    for r in pair_rows:
        if history is not None and r.in_history:
            committed.add((r.trace_id, r.span_id))
            continue
        by_turn.setdefault((r.conv_id, r.turn_idx), []).append(
            (r.trace_id, r.span_id)
        )
    invalid: list[tuple] = []
    for turn in sorted(by_turn, key=lambda t: arrival_order(*t)):
        keys = by_turn[turn]
        if any(k in committed for k in keys):
            invalid.append(turn)
        else:
            committed.update(keys)
    if not invalid:
        return None, 0
    # A JVM local relation: it is broadcast-built several times
    # downstream (drop_conflicted anti-joins in independent jobs), so a
    # Python-list relation would pay a Python-worker scan of the
    # parallelized rows per build (see session.local_frame).
    invalid_df = local_frame(spark, invalid, "conv_id string, turn_idx int")
    return invalid_df, len(invalid)


def join_verdicts(df: DataFrame, invalid_turns: DataFrame, how: str) -> DataFrame:
    """``df`` semi- or anti-joined (``how``) to the broadcast verdict
    turns; the nullable ``conv_id`` is compared null-safely."""
    v = invalid_turns.toDF("_v_conv_id", "_v_turn_idx")
    on = F.col("conv_id").eqNullSafe(v["_v_conv_id"]) & (F.col("turn_idx") == v["_v_turn_idx"])
    return df.join(F.broadcast(v), on, how)


def drop_conflicted(parsed: DataFrame, invalid_turns: DataFrame | None) -> DataFrame:
    """Anti-join the invalid-turn set out of the parsed stream — the
    distributed analogue of the rolled-back transactions."""
    if invalid_turns is None:
        return parsed
    return join_verdicts(parsed, invalid_turns, "left_anti")
