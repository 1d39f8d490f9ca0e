"""Focused tests for the round-6 conflict-resolver internals: the
single-pass bounded dup-key collect (guide §2.4 — pass 2 used to re-run
the whole groupBy as its broadcast build side) must keep the cascade
semantics and the adversarial-input guard bit-identical."""

import pytest

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.fixtures import make_transcripts
from sqlite_otel_spark.operators.conflicts import (
    ConflictOverflowError,
    drop_conflicted,
    resolve_span_conflicts,
)
from sqlite_otel_spark.plans import checkpoint as cp
from tests.conftest import transcripts_df

SPAN_SCHEMA = (
    "rec_kind string, conv_id string, turn_idx int, trace_id string, span_id string"
)


def span_records(spark, rows):
    return spark.createDataFrame(
        [("span", *r) for r in rows], schema=SPAN_SCHEMA
    )


def test_no_duplicates_short_circuits(spark):
    recs = span_records(spark, [("c1", 0, "t1", "s1"), ("c1", 1, "t2", "s2")])
    invalid, n = resolve_span_conflicts(spark, recs, 100)
    assert invalid is None and n == 0


def test_sequential_cascade_matches_reference_order(spark):
    # turn A commits X; turn B carries X and Y -> rejected entirely;
    # turn C carries Y -> accepted because B never committed.
    recs = span_records(
        spark,
        [
            ("c1", 0, "tX", "sX"),
            ("c1", 1, "tX", "sX"),
            ("c1", 1, "tY", "sY"),
            ("c1", 2, "tY", "sY"),
        ],
    )
    invalid, n = resolve_span_conflicts(spark, recs, 100)
    assert n == 1
    assert [(r.conv_id, r.turn_idx) for r in invalid.collect()] == [("c1", 1)]
    kept = drop_conflicted(recs, invalid)
    assert sorted(r.turn_idx for r in kept.collect()) == [0, 2]


def test_invalid_relation_is_single_partition(spark):
    # the tiny invalid set is broadcast-built repeatedly downstream;
    # the default-parallelism layout cost one scheduled task per
    # partition per build (round-6 stage profile)
    recs = span_records(spark, [("c1", 0, "tX", "sX"), ("c1", 1, "tX", "sX")])
    invalid, n = resolve_span_conflicts(spark, recs, 100)
    assert n == 1
    assert invalid.rdd.getNumPartitions() == 1


def test_overflow_guard_on_key_count(spark):
    rows = []
    for i in range(12):  # 12 duplicated keys > cap 10
        rows += [(f"c{i}", 0, f"t{i}", "s"), (f"c{i}", 1, f"t{i}", "s")]
    recs = span_records(spark, rows)
    with pytest.raises(ConflictOverflowError):
        resolve_span_conflicts(spark, recs, 10)


def test_overflow_guard_on_pair_count(spark):
    # ONE hot key duplicated past the cap: few keys, many pairs — the
    # n_pairs arm of the guard must still fire before pass 2
    rows = [(f"c{i}", i, "thot", "shot") for i in range(12)]
    recs = span_records(spark, rows)
    with pytest.raises(ConflictOverflowError):
        resolve_span_conflicts(spark, recs, 10)


def test_locally_failed_turns_excluded(spark):
    # non-span rows never participate in the cascade
    recs = spark.createDataFrame(
        [
            ("span", "c1", 0, "t1", "s1"),
            ("log", "c1", 1, "t1", "s1"),  # same key, but a log row
        ],
        schema=SPAN_SCHEMA,
    )
    invalid, n = resolve_span_conflicts(spark, recs, 100)
    assert invalid is None and n == 0


def key_frame(spark, keys):
    return spark.createDataFrame(keys, schema="trace_id string, span_id string")


def verdicts(invalid):
    return sorted((r.conv_id, r.turn_idx) for r in invalid.collect())


def test_history_key_rolls_back_the_turn_that_carries_it(spark):
    # the docstring cascade with A's X committed by an earlier batch:
    # B (X, Y) rolls back and frees Y, so C (Y) commits
    recs = span_records(
        spark,
        [("c1", 1, "tX", "sX"), ("c1", 1, "tY", "sY"), ("c1", 2, "tY", "sY")],
    )
    invalid, n = resolve_span_conflicts(
        spark, recs, 100, history=key_frame(spark, [("tX", "sX")])
    )
    assert n == 1
    assert verdicts(invalid) == [("c1", 1)]


def test_history_key_the_input_lacks_changes_nothing(spark):
    history = key_frame(spark, [("tZ", "sZ")])
    fresh = span_records(spark, [("c1", 0, "t1", "s1"), ("c1", 1, "t2", "s2")])
    assert resolve_span_conflicts(spark, fresh, 100, history=history) == (None, 0)
    cascade = span_records(
        spark,
        [
            ("c1", 0, "tX", "sX"),
            ("c1", 1, "tX", "sX"),
            ("c1", 1, "tY", "sY"),
            ("c1", 2, "tY", "sY"),
        ],
    )
    invalid, n = resolve_span_conflicts(spark, cascade, 100, history=history)
    assert n == 1 and verdicts(invalid) == [("c1", 1)]


def test_history_rows_are_never_verdicts(spark):
    # every history key the input carries is a duplicated key, yet only
    # the input's turns come back
    recs = span_records(
        spark, [("c1", 0, "tX", "sX"), ("c2", 0, "tY", "sY"), ("c3", 0, "t3", "s3")]
    )
    history = key_frame(spark, [("tX", "sX"), ("tY", "sY"), ("tZ", "sZ")])
    invalid, n = resolve_span_conflicts(spark, recs, 100, history=history)
    assert n == 2
    assert verdicts(invalid) == [("c1", 0), ("c2", 0)]


def test_null_conv_id_turn_is_not_history(spark):
    # conv_id is nullable: a turn without one still rolls back when it
    # collides with history, and does not commit X in history's stead
    recs = span_records(spark, [(None, 0, "tX", "sX"), (None, 0, "tW", "sW")])
    invalid, n = resolve_span_conflicts(
        spark, recs, 100, history=key_frame(spark, [("tX", "sX")])
    )
    assert n == 1
    assert verdicts(invalid) == [(None, 0)]


def test_history_pairs_count_toward_the_cap(spark):
    # one input turn per history key: two pairs per key, as in a batch
    # run that holds both copies
    recs = span_records(spark, [(f"c{i}", 0, f"t{i}", "s") for i in range(6)])
    history = key_frame(spark, [(f"t{i}", "s") for i in range(6)])
    with pytest.raises(ConflictOverflowError):
        resolve_span_conflicts(spark, recs, 10, history=history)
    invalid, n = resolve_span_conflicts(spark, recs, 12, history=history)
    assert n == 6


def test_checkpoint_overflow_is_the_batch_guard(spark, tmp_path):
    # the checkpoint's verdicts come from resolve_span_conflicts, so the
    # cascade fixture's one conflict trips its guard at cap 0 before any
    # bucket commits
    rows = make_transcripts(10, seed=1)
    assert any(r["conv_id"] == "conv-cascade-b" for r in rows)
    out = str(tmp_path / "ckpt")
    with pytest.raises(ConflictOverflowError):
        cp.run_checkpointed(spark, transcripts_df(spark, rows), out,
                            PipelineConfig(max_conflict_turns=0))
    assert cp.read_manifest_buckets(spark, out) == set()
