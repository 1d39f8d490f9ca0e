"""North-rule correctness gate: the Spark pipeline must persist exactly
what a sequential run of the reference collector would persist —
per-sink count equality, per-record natural-key equality, routed-row
text equality under stable (conv_id, turn_idx) ordering (SURVEY §5.2,
BASELINE.md items 1-2)."""

import datetime as dt
import json
from collections import Counter

import pytest

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.fixtures import make_transcripts
from sqlite_otel_spark.operators import aggregates
from sqlite_otel_spark.oracle import OracleDB
from sqlite_otel_spark.plans import checkpoint as cp
from sqlite_otel_spark.plans.pipeline import collect_aggregates, run_pipeline
from tests.conftest import transcripts_df

MAX_BYTES = 5000


def _rows():
    rows = make_transcripts(600, seed=42)
    # one oversize row (>MAX_BYTES) to exercise F3 in both engines
    rows.append({
        "conv_id": "conv-oversize-0", "turn_idx": 0, "role": "user",
        "text": '{"resourceLogs": []}' + " " * (MAX_BYTES + 10),
        "tool": "bash", "ts": rows[0]["ts"],
    })
    return rows


# hash surrogate ids are the only scheme; the param names it in the case ids
@pytest.fixture(scope="module", params=["hash"])
def pipeline_and_oracle(spark):
    rows = _rows()
    oracle = OracleDB(max_text_bytes=MAX_BYTES).run(rows)
    cfg = PipelineConfig(max_text_bytes=MAX_BYTES)
    result = run_pipeline(spark, transcripts_df(spark, rows), cfg)
    yield result, oracle
    result.unpersist()


def test_sink_counts_match(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    got = {name: df.count() for name, df in result.sinks.items()}
    assert got == oracle.sink_counts()
    assert aggregates.sink_counts(result.sinks) == oracle.sink_counts()
    # an empty sink forms no group and still counts 0
    empty = result.sinks["spans"].limit(0)
    assert aggregates.sink_counts({"empty": empty}) == {"empty": 0}


def test_resources_natural_rows(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    got = {(r.attributes, r.schema_url) for r in result.sinks["resources"].collect()}
    assert got == set(oracle.resources)


def test_scopes_natural_rows(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    got = {
        (r.name, r.version, r.attributes, r.schema_url)
        for r in result.sinks["instrumentation_scopes"].collect()
    }
    assert got == set(oracle.scopes)


def _dim_maps(result):
    """surrogate id -> natural key, for FK translation."""
    res = {r.id: (r.attributes, r.schema_url) for r in result.sinks["resources"].collect()}
    res[0] = None  # logs' missing-resource sentinel (logs.go:29-35)
    sco = {
        r.id: (r.name, r.version, r.attributes, r.schema_url)
        for r in result.sinks["instrumentation_scopes"].collect()
    }
    return res, sco


def test_metrics_first_definition_wins(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    res, sco = _dim_maps(result)
    got = {
        (r.name, r.metric_type, res[r.resource_id], sco[r.scope_id]): (r.description, r.unit)
        for r in result.sinks["metrics"].collect()
    }
    oracle_res = {v: k for k, v in oracle.resources.items()}
    oracle_sco = {v: k for k, v in oracle.scopes.items()}
    want = {
        (row["name"], row["metric_type"],
         oracle_res[row["resource_id"]], oracle_sco[row["scope_id"]]):
        (row["description"], row["unit"])
        for row in oracle.metrics.values()
    }
    assert got == want


def test_spans_full_rows(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    res, sco = _dim_maps(result)
    cols = ["trace_id", "span_id", "trace_state", "parent_span_id", "name", "kind",
            "start_time_unix_nano", "end_time_unix_nano", "attributes", "events",
            "links", "status_code", "status_message"]
    got = {
        tuple([*(getattr(r, c) for c in cols), res[r.resource_id], sco[r.scope_id]])
        for r in result.sinks["spans"].collect()
    }
    oracle_res = {v: k for k, v in oracle.resources.items()}
    oracle_sco = {v: k for k, v in oracle.scopes.items()}
    want = {
        tuple([*(row[c] for c in cols),
               oracle_res[row["resource_id"]], oracle_sco[row["scope_id"]]])
        for row in oracle.spans.values()
    }
    assert got == want


def test_log_records_full_rows(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    res, sco = _dim_maps(result)
    cols = ["time_unix_nano", "observed_time_unix_nano", "severity_number",
            "severity_text", "body", "attributes", "trace_id", "span_id", "flags"]
    got = sorted(
        tuple([r.conv_id, r.turn_idx, *(getattr(r, c) for c in cols),
               res[r.resource_id], sco[r.scope_id]])
        for r in result.sinks["log_records"].collect()
    )
    oracle_res = {v: k for k, v in oracle.resources.items()}
    oracle_res[0] = None
    oracle_sco = {v: k for k, v in oracle.scopes.items()}
    want = sorted(
        tuple([row["conv_id"], row["turn_idx"], *(row[c] for c in cols),
               oracle_res[row["resource_id"]], oracle_sco[row["scope_id"]]])
        for row in oracle.log_records
    )
    assert got == want


def test_points_full_rows(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    res, sco = _dim_maps(result)
    cols = ["attributes", "start_time_unix_nano", "time_unix_nano",
            "value_double", "value_int", "exemplars", "flags"]
    points = result.sinks["metric_data_points"].collect()
    got = sorted(
        (tuple([r.conv_id, r.turn_idx, r.metric_name, r.metric_type,
                *(getattr(r, c) for c in cols),
                res[r.resource_id], sco[r.scope_id]])
         for r in points),
        key=repr,
    )
    # metric_id is a foreign key: it names the metrics row of the point's
    # own (metric_name, metric_type, resource_id, scope_id)
    metrics = {
        m.id: (m.name, m.metric_type, m.resource_id, m.scope_id)
        for m in result.sinks["metrics"].collect()
    }
    assert points
    for r in points:
        assert metrics[r.metric_id] == (
            r.metric_name, r.metric_type, r.resource_id, r.scope_id
        )
    oracle_res = {v: k for k, v in oracle.resources.items()}
    oracle_res[0] = None
    oracle_sco = {v: k for k, v in oracle.scopes.items()}
    want = sorted(
        (tuple([row["conv_id"], row["turn_idx"], row["metric_name"], row["metric_type"],
                *(row[c] for c in cols),
                oracle_res[row["resource_id"]], oracle_sco[row["scope_id"]]])
         for row in oracle.points),
        key=repr,
    )
    assert got == want


def test_routed_text_equality_stable_order(pipeline_and_oracle):
    """north_rule: per-turn text equality under stable (conv_id, turn_idx)
    ordering for routed (accepted) rows."""
    result, oracle = pipeline_and_oracle
    got = [
        (r.conv_id, r.turn_idx, r.signal_type, r.text)
        for r in result.routed.orderBy("conv_id", "turn_idx").collect()
    ]
    want = sorted(
        (a["conv_id"], a["turn_idx"], a["signal_type"], None) for a in oracle.accepted
    )
    assert [(c, t, s) for c, t, s, _ in got] == [(c, t, s) for c, t, s, _ in want]
    # text equality: pipeline must carry the original text through, intact
    originals = {(r["conv_id"], r["turn_idx"]): r["text"] for r in _rows()}
    for c, t, s, text in got:
        assert text == originals[(c, t)]


def test_rejects_match(pipeline_and_oracle):
    result, oracle = pipeline_and_oracle
    got = {(r.conv_id, r.turn_idx) for r in result.sinks["rejects"].collect()}
    want = {(r["conv_id"], r["turn_idx"]) for r in oracle.rejects}
    assert got == want


def test_cascade_resolution(pipeline_and_oracle):
    """turn A commits X; turn B (X+Y) rejected; turn C (Y) accepted."""
    result, oracle = pipeline_and_oracle
    rejected = {(r.conv_id, r.turn_idx) for r in result.sinks["rejects"].collect()}
    assert ("conv-cascade-b", 0) in rejected
    assert ("conv-cascade-a", 0) not in rejected
    assert ("conv-cascade-c", 0) not in rejected
    names = {
        r.name for r in result.sinks["spans"]
        .filter("trace_id = '" + "ab" * 16 + "'").collect()
    }
    assert names == {"X", "Y-late"}


def test_aggregates_match_oracle(pipeline_and_oracle):
    """collect_aggregates' three result sets, counted from the
    sequential oracle's accepted and rejected turns the way
    scripts/regen_goldens.py counts them (rejected_bytes and the
    null-signal_type reject row included)."""
    result, oracle = pipeline_and_oracle
    got = collect_aggregates(result)

    acc, accb, rej, rejb = Counter(), Counter(), Counter(), Counter()
    by_tool, by_bucket = Counter(), Counter()
    for a in oracle.accepted:
        s, t = a["signal_type"], a["tool"]
        acc[s] += 1
        accb[s] += a["n_bytes"]
        by_tool[(s, t)] += 1
        by_bucket[(a["ts"].replace(minute=0, second=0, microsecond=0), s, t)] += 1
    for r in oracle.rejects:
        rej[r["signal_type"]] += 1
        rejb[r["signal_type"]] += r["n_bytes"]
    assert rej[None] > 0 and rejb[None] > 0
    want_acc = {
        (s, acc[s], accb[s], rej[s], rejb[s]) for s in {*acc, *rej}
    }

    assert sorted(got["accounting"], key=repr) == sorted(want_acc, key=repr)
    assert sorted(got["by_signal_tool"]) == sorted(
        (s, t, n) for (s, t), n in by_tool.items()
    )
    assert sorted(got["by_time_bucket"]) == sorted(
        (b, s, t, n) for (b, s, t), n in by_bucket.items()
    )


def _sorted_aggregates(result):
    return {k: sorted(v, key=repr) for k, v in collect_aggregates(result).items()}


def test_emit_text_off_preserves_counts(spark):
    """cfg.emit_text=False (the reference's own never-persist-bodies
    behavior) must not change any sink/accounting result — only the raw
    text column on routed/turn rows goes null; n_bytes survives via the
    Python-side byte count."""
    rows = _rows()
    cfg_on = PipelineConfig(max_text_bytes=MAX_BYTES)
    cfg_off = PipelineConfig(max_text_bytes=MAX_BYTES, emit_text=False)
    r_on = run_pipeline(spark, transcripts_df(spark, rows), cfg_on)
    r_off = run_pipeline(spark, transcripts_df(spark, rows), cfg_off)
    try:
        assert {n: d.count() for n, d in r_on.sinks.items()} == {
            n: d.count() for n, d in r_off.sinks.items()
        }
        # includes accepted_bytes (the n_bytes path)
        assert _sorted_aggregates(r_on) == _sorted_aggregates(r_off)
        assert r_off.routed.filter("text is not null").count() == 0
    finally:
        r_on.unpersist()
        r_off.unpersist()


def test_staging_mode_matches_persist_mode(spark, tmp_path):
    """cfg.staging_dir stages the record stream as parquet partitioned by
    rec_kind (the bounded-memory 100 TB form) instead of caching — every
    sink and aggregate must be identical to the in-memory path."""
    rows = _rows()
    r_mem = run_pipeline(spark, transcripts_df(spark, rows),
                         PipelineConfig(max_text_bytes=MAX_BYTES))
    r_stg = run_pipeline(
        spark, transcripts_df(spark, rows),
        PipelineConfig(max_text_bytes=MAX_BYTES, staging_dir=str(tmp_path / "stg")),
    )
    try:
        assert {n: d.count() for n, d in r_mem.sinks.items()} == {
            n: d.count() for n, d in r_stg.sinks.items()
        }
        got_m = sorted(map(tuple, r_mem.sinks["spans"].collect()), key=str)
        got_s = sorted(map(tuple, r_stg.sinks["spans"].collect()), key=str)
        assert got_m == got_s
    finally:
        r_mem.unpersist()
        r_stg.unpersist()


def _span_turn(conv_id, turn_idx, name):
    """A trace turn carrying the one span (tX, sX)."""
    text = json.dumps({"resourceSpans": [{
        "resource": {"attributes": {"a": 1}},
        "scopeSpans": [{"spans": [{"traceId": "tX", "spanId": "sX", "name": name}]}],
    }]})
    return {"conv_id": conv_id, "turn_idx": turn_idx, "role": "user",
            "text": text, "tool": "bash", "ts": dt.datetime(2024, 1, 1)}


# conv_id is nullable: a turn without one takes part in the span-PK
# cascade, ordered before every named conv_id (Spark's ascending order)
NULL_CONV_ID_CASES = {
    "two_null_turns": [_span_turn(None, 0, "first"), _span_turn(None, 1, "second")],
    "null_and_named": [_span_turn("c1", 0, "named"), _span_turn(None, 0, "null")],
}


@pytest.mark.parametrize("case", sorted(NULL_CONV_ID_CASES))
@pytest.mark.parametrize("path", ["batch", "checkpoint"])
def test_null_conv_id_span_clash(spark, tmp_path, path, case):
    rows = NULL_CONV_ID_CASES[case]
    oracle = OracleDB().run(rows)
    assert oracle.sink_counts()["spans"] == 1
    assert len(oracle.rejects) == 1

    df = transcripts_df(spark, rows)
    if path == "batch":
        result = run_pipeline(spark, df)
        sinks = result.sinks
    else:
        out = str(tmp_path / "ckpt")
        cp.run_checkpointed(spark, df, out, PipelineConfig(checkpoint_buckets=2))
        sinks = cp.read_sinks(spark, out)
    try:
        assert {n: d.count() for n, d in sinks.items()} == oracle.sink_counts()
        assert {r.name for r in sinks["spans"].collect()} == {
            v["name"] for v in oracle.spans.values()
        }
        assert {(r.conv_id, r.turn_idx) for r in sinks["rejects"].collect()} == {
            (r["conv_id"], r["turn_idx"]) for r in oracle.rejects
        }
    finally:
        if path == "batch":
            result.unpersist()
