"""Structured Streaming variant: micro-batch ingest must persist exactly
what the sequential oracle persists (arrival order = file order; files
are fed in canonical (conv_id, turn_idx) order so the cross-batch span
PK state is comparable) and exactly what the batch and checkpoint
compositions of the same stages persist, plus a watermarked windowed
aggregate."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.fixtures import make_transcripts
from sqlite_otel_spark.oracle import OracleDB
from sqlite_otel_spark.plans import checkpoint as cp
from sqlite_otel_spark.plans.pipeline import run_pipeline
from sqlite_otel_spark.streaming import stream as st
from tests.conftest import TRANSCRIPT_ARROW_SCHEMA as SCHEMA
from tests.conftest import transcripts_df


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory):
    rows = sorted(make_transcripts(300, seed=13), key=lambda r: (r["conv_id"], r["turn_idx"]))
    input_dir = tmp_path_factory.mktemp("stream_in")
    n = len(rows) // 3
    for i, chunk in enumerate([rows[:n], rows[n:2 * n], rows[2 * n:]]):
        pq.write_table(
            pa.Table.from_pylist(chunk, schema=SCHEMA),
            str(input_dir / f"part-{i:03d}.parquet"),
        )
    return rows, str(input_dir), str(tmp_path_factory.mktemp("stream_out"))


@pytest.fixture(scope="module")
def streamed(spark, stream_dirs):
    """The default-config stream drained once into stream_dirs' out dir."""
    _, input_dir, out_dir = stream_dirs
    q = st.start_stream(spark, input_dir, out_dir, PipelineConfig())
    q.awaitTermination(300)
    return out_dir


def test_stream_matches_oracle(spark, stream_dirs, streamed):
    rows, _, out_dir = stream_dirs
    oracle = OracleDB().run(rows)
    counts = {
        "spans": spark.read.parquet(f"{out_dir}/spans").count(),
        "log_records": spark.read.parquet(f"{out_dir}/log_records").count(),
        "metric_data_points": spark.read.parquet(f"{out_dir}/metric_data_points").count(),
        "rejects": spark.read.parquet(f"{out_dir}/rejects").count(),
    }
    want = oracle.sink_counts()
    assert counts == {k: want[k] for k in counts}

    dims = st.read_dims(spark, out_dir)
    assert dims["resources"].count() == want["resources"]
    assert dims["instrumentation_scopes"].count() == want["instrumentation_scopes"]
    assert dims["metrics"].count() == want["metrics"]

    # per-record span equality (hash ids aside)
    got = {(r.trace_id, r.span_id) for r in spark.read.parquet(f"{out_dir}/spans").collect()}
    assert got == set(oracle.spans)


def _sorted_rows(df):
    """Every row of a sink as a repr, over its columns in name order
    (repr keeps NaN and None comparable)."""
    cols = sorted(c for c in df.columns if c != "bucket")
    return sorted(repr(tuple(r)) for r in df.select(*cols).collect())


def test_batch_checkpoint_stream_parity(spark, stream_dirs, streamed, tmp_path):
    """Batch ``run_pipeline`` (hash ids), ``run_checkpointed`` over 4
    buckets and the micro-batch stream compose the same stages, so all
    seven tables must match row for row — dimension ids and natural
    keys included — after dropping the checkpoint's bucket column."""
    rows, _, _ = stream_dirs
    df = transcripts_df(spark, rows)
    batch = run_pipeline(spark, df, PipelineConfig())
    try:
        want = {name: _sorted_rows(t) for name, t in batch.sinks.items()}
    finally:
        batch.unpersist()
    assert all(want.values())  # every table has rows to compare

    ckpt_dir = str(tmp_path / "ckpt")
    cp.run_checkpointed(spark, df, ckpt_dir, PipelineConfig(checkpoint_buckets=4))
    stream_sinks = {t: spark.read.parquet(f"{streamed}/{t}") for t in cp.FACT_TABLES}
    stream_sinks.update(st.read_dims(spark, streamed))
    for path, sinks in (("checkpoint", cp.read_sinks(spark, ckpt_dir)),
                        ("stream", stream_sinks)):
        assert set(sinks) == set(want), path
        for name, t in sinks.items():
            assert _sorted_rows(t) == want[name], (path, name)


def test_cross_batch_cascade_is_sequential(spark, tmp_path):
    """The span-PK cascade split over two micro-batches: A (span X)
    commits in batch 0; in batch 1, B (X and Y) collides with the
    committed X and rolls back, so C (Y) commits — as in a sequential
    run, where B never held Y."""
    rows = [r for r in make_transcripts(10, seed=1)
            if r["conv_id"].startswith("conv-cascade")]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, chunk in enumerate((rows[:1], rows[1:])):
        path = str(in_dir / f"part-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pylist(chunk, schema=SCHEMA), path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))  # admitted by mtime
    out_dir = str(tmp_path / "out")
    q = st.start_stream(spark, str(in_dir), out_dir, PipelineConfig(),
                        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 2

    oracle = OracleDB().run(rows)
    got = {(r.trace_id, r.span_id, r.name)
           for r in spark.read.parquet(f"{out_dir}/spans").collect()}
    assert got == {(k[0], k[1], v["name"]) for k, v in oracle.spans.items()}
    rejected = {(r.conv_id, r.turn_idx)
                for r in spark.read.parquet(f"{out_dir}/rejects").collect()}
    assert rejected == {(r["conv_id"], r["turn_idx"]) for r in oracle.rejects}
    assert rejected == {("conv-cascade-b", 0)}


def test_max_bytes_per_trigger_admission(spark, stream_dirs, tmp_path):
    """Byte-based admission control (the 10 MB/request analogue,
    handlers/handler_common.go:29): a tiny byte cap admits one file per
    micro-batch (file granularity), and the sink contents are unchanged
    vs any other batching."""
    rows, input_dir, _ = stream_dirs
    out_dir = str(tmp_path / "bytes_out")
    cfg = PipelineConfig(max_files_per_trigger=None, max_bytes_per_trigger=1)
    q = st.start_stream(spark, input_dir, out_dir, cfg,
                        checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 3  # one per input file under the 1-byte cap
    want = OracleDB().run(rows).sink_counts()
    got = {
        t: spark.read.parquet(f"{out_dir}/{t}").count()
        for t in ("spans", "log_records", "metric_data_points", "rejects")
    }
    assert got == {k: want[k] for k in got}


def test_stateful_dedup_matches_sequential(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: first-seen
    span-PK dedup across micro-batches must equal a sequential
    first-seen scan over the files in ingestion order."""
    import pyarrow as pa_
    import pyarrow.parquet as pq_

    from sqlite_otel_spark.streaming.stateful import dedup_span_keys_stateful

    schema = pa_.schema([
        ("conv_id", pa_.string()), ("turn_idx", pa_.int32()),
        ("trace_id", pa_.string()), ("span_id", pa_.string()),
    ])
    # duplicates within a batch, across batches, and fresh keys per batch
    batches = [
        [("c0", 0, "t1", "s1"), ("c0", 1, "t1", "s1"), ("c0", 2, "t2", "s1")],
        [("c1", 0, "t1", "s1"), ("c1", 1, "t3", "s1"), ("c1", 2, "t2", "s1")],
        [("c2", 0, "t3", "s1"), ("c2", 1, "t4", "s9")],
    ]
    in_dir = tmp_path / "keys_in"
    in_dir.mkdir()
    for i, rows in enumerate(batches):
        pq_.write_table(
            pa_.Table.from_pylist(
                [dict(zip(("conv_id", "turn_idx", "trace_id", "span_id"), r))
                 for r in rows],
                schema=schema,
            ),
            str(in_dir / f"part-{i:03d}.parquet"),
        )

    out_dir = str(tmp_path / "dedup_out")

    def run_stream():
        # durable (parquet) sink: memory sinks cannot recover from a
        # checkpoint, and recovery is exactly what the restart asserts
        q = (
            dedup_span_keys_stateful(
                spark.readStream.schema(
                    "conv_id string, turn_idx int, trace_id string, span_id string"
                ).option("maxFilesPerTrigger", 1).parquet(str(in_dir))
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return {
            (r.conv_id, r.turn_idx, r.trace_id, r.span_id)
            for r in spark.read.parquet(out_dir).collect()
        }

    got = run_stream()
    seen, want = set(), set()
    for rows in batches:
        for r in rows:
            pk = (r[2], r[3])
            if pk not in seen:
                seen.add(pk)
                want.add(r)
    assert got == want

    # restart durability: state recovers from the checkpoint — a new
    # file replaying old PKs plus one fresh PK emits ONLY the fresh one
    pq_.write_table(
        pa_.Table.from_pylist(
            [dict(zip(("conv_id", "turn_idx", "trace_id", "span_id"), r))
             for r in [("c3", 0, "t1", "s1"), ("c3", 1, "t9", "s9")]],
            schema=schema,
        ),
        str(in_dir / "part-003.parquet"),
    )
    got2 = run_stream()
    assert got2 == want | {("c3", 1, "t9", "s9")}

    # per-key O(1) state (round-3 redesign): the state store must hold
    # exactly ONE row per distinct PK whose value is a single boolean —
    # replays of already-seen PKs add no state, and no value grows with
    # history (the reference's per-row unique index, database/db.go:153).
    state = spark.read.format("statestore").load(str(tmp_path / "ckpt"))
    rows = state.select(
        "key.trace_id", "key.span_id",
        F.col("value.groupState.emitted").alias("emitted"),
    ).collect()
    distinct_pks = {(r[2], r[3]) for rows_ in batches for r in rows_} | {("t1", "s1"), ("t9", "s9")}
    assert {(r.trace_id, r.span_id) for r in rows} == distinct_pks
    assert all(r.emitted is True for r in rows)
    assert len(rows) == len(distinct_pks)


def test_windowed_counts_with_watermark(spark, stream_dirs):
    rows, input_dir, _ = stream_dirs
    sdf = st.windowed_counts(spark, input_dir, watermark="10 minutes", bucket="1 hour")
    q = (
        sdf.writeStream.format("memory").queryName("wc")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = {
        (r.bucket_start, r.role): r.n_turns
        for r in spark.sql("SELECT * FROM wc").collect()
    }
    from collections import Counter

    want = Counter()
    for r in rows:
        want[(r["ts"].replace(minute=0, second=0, microsecond=0), r["role"])] += 1
    assert got == dict(want)
    assert len({b for b, _ in got}) >= 3  # fixture spreads >=3 hourly buckets


def test_warm_drain_reuses_generated_code(spark, stream_dirs, streamed, tmp_path):
    """A repeated drain compiles (almost) nothing: the session's codegen
    cache holds every micro-batch's classes, and no per-batch plan
    carries code that differs from drain to drain (a ``limit`` does: its
    generated counter name is fresh JVM-wide on every plan). Measured 0
    here; 8 with ``limit(1).count()`` as the clash probe of the two
    later batches."""
    _, input_dir, _ = stream_dirs
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def drain(name):
        q = st.start_stream(spark, input_dir, str(tmp_path / name), PipelineConfig())
        assert q.awaitTermination(300)

    drain("warm")
    before = compiles.getCount()
    drain("measured")
    assert compiles.getCount() - before <= 2
