"""M5 resume semantics (SURVEY §5.2): a killed run resumes without
reprocessing committed buckets, and the resumed output equals both a
clean one-shot run and the sequential oracle."""

import datetime as dt
import json

import pytest

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.fixtures import make_transcripts
from sqlite_otel_spark.oracle import OracleDB
from sqlite_otel_spark.plans import checkpoint as cp
from sqlite_otel_spark.plans.pipeline import run_pipeline
from tests.conftest import transcripts_df


@pytest.fixture(scope="module")
def rows():
    return make_transcripts(400, seed=7)


def _cfg():
    return PipelineConfig(checkpoint_buckets=6)


def test_kill_and_resume(spark, rows, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ckpt"))
    df = transcripts_df(spark, rows)

    with pytest.raises(RuntimeError, match="injected failure"):
        cp.run_checkpointed(spark, df, out, _cfg(), run_id="r1", fail_after_buckets=3)

    committed_after_kill = cp.read_manifest_buckets(spark, out)
    assert len(committed_after_kill) == 3

    result = cp.run_checkpointed(spark, df, out, _cfg(), run_id="r2")
    # no reprocessing of committed buckets
    assert set(result["skipped"]) == committed_after_kill
    assert set(result["processed"]).isdisjoint(committed_after_kill)
    assert len(result["processed"]) + len(result["skipped"]) == 6

    # lineage: exactly one manifest row per bucket, run_id split across runs
    manifest = cp.read_manifest(spark, out).collect()
    assert sorted(r.bucket for r in manifest) == list(range(6))
    assert {r.run_id for r in manifest} == {"r1", "r2"}

    # final contents equal the sequential oracle
    oracle = OracleDB().run(rows)
    sinks = cp.read_sinks(spark, out)
    got = {name: df.count() for name, df in sinks.items()}
    want = oracle.sink_counts()
    assert got == want

    got_spans = {
        (r.trace_id, r.span_id, r.name) for r in sinks["spans"].collect()
    }
    want_spans = {(k[0], k[1], v["name"]) for k, v in oracle.spans.items()}
    assert got_spans == want_spans


def test_resume_is_idempotent(spark, rows, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ckpt2"))
    df = transcripts_df(spark, rows)
    first = cp.run_checkpointed(spark, df, out, _cfg(), run_id="r1")
    assert len(first["processed"]) == 6
    again = cp.run_checkpointed(spark, df, out, _cfg(), run_id="r3")
    assert again["processed"] == []
    assert len(again["skipped"]) == 6
    assert sorted(r.bucket for r in cp.read_manifest(spark, out).collect()) == list(range(6))


def test_escaped_envelope_key_shares_the_span_pk(spark, tmp_path):
    """A trace whose envelope key is JSON-escaped (``resource\\u0053pans``)
    is a trace turn like any other: its span takes the primary key, and a
    later plain turn carrying the same span rolls back — on the checkpoint
    path exactly as in the batch plan and the sequential oracle."""

    def body(name):
        return json.dumps([{"resource": {"attributes": {"a": 1}},
                            "scopeSpans": [{"spans": [
                                {"traceId": "t1", "spanId": "s1", "name": name}]}]}])

    texts = ['{"resource\\u0053pans": ' + body("escaped") + "}",
             '{"resourceSpans": ' + body("plain") + "}"]
    rows = [{"conv_id": "c0", "turn_idx": i, "role": "user", "text": t,
             "tool": "bash", "ts": dt.datetime(2024, 1, 1)}
            for i, t in enumerate(texts)]
    want_spans = {("t1", "s1", "escaped")}
    want_rejects = {("c0", 1)}

    oracle = OracleDB().run(rows)
    assert {(k[0], k[1], v["name"]) for k, v in oracle.spans.items()} == want_spans
    assert {(r["conv_id"], r["turn_idx"]) for r in oracle.rejects} == want_rejects

    df = transcripts_df(spark, rows)
    batch = run_pipeline(spark, df)
    out = str(tmp_path / "ckpt")
    cp.run_checkpointed(spark, df, out, PipelineConfig(checkpoint_buckets=2))
    for path, sinks in (("batch", batch.sinks), ("checkpoint", cp.read_sinks(spark, out))):
        got_spans = {(r.trace_id, r.span_id, r.name) for r in sinks["spans"].collect()}
        got_rejects = {(r.conv_id, r.turn_idx) for r in sinks["rejects"].collect()}
        assert (got_spans, got_rejects) == (want_spans, want_rejects), path
    batch.unpersist()
