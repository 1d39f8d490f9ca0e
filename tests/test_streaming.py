"""Structured Streaming variant: micro-batch ingest must persist exactly
what the sequential oracle persists (arrival order = file order; files
are fed in canonical (conv_id, turn_idx) order so the cross-batch span
PK state is comparable) and exactly what the batch and checkpoint
compositions of the same stages persist, plus a watermarked windowed
aggregate."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.fixtures import make_transcripts
from sqlite_otel_spark.operators.conflicts import ConflictOverflowError
from sqlite_otel_spark.oracle import OracleDB
from sqlite_otel_spark.plans import checkpoint as cp
from sqlite_otel_spark.plans.pipeline import run_pipeline
from sqlite_otel_spark.streaming import stream as st
from tests.conftest import TRANSCRIPT_ARROW_SCHEMA as SCHEMA
from tests.conftest import sorted_rows, transcripts_df


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


def _read_all(spark, out_dir):
    """The stream's seven tables: facts from their batch leaves, dims
    deduplicated on read."""
    sinks = {t: spark.read.parquet(f"{out_dir}/{t}") for t in cp.FACT_TABLES}
    sinks.update(st.read_dims(spark, out_dir))
    return sinks


def test_batch_checkpoint_stream_parity(spark, stream_dirs, streamed, tmp_path):
    """Batch ``run_pipeline`` (hash ids), ``run_checkpointed`` over 4
    buckets and the micro-batch stream compose the same stages, so all
    seven tables must match row for row — dimension ids and natural
    keys included — after dropping the checkpoint's bucket and the
    stream's batch column."""
    rows, _, _ = stream_dirs
    df = transcripts_df(spark, rows)
    batch = run_pipeline(spark, df, PipelineConfig())
    try:
        want = {name: sorted_rows(t) for name, t in batch.sinks.items()}
    finally:
        batch.unpersist()
    assert all(want.values())  # every table has rows to compare

    ckpt_dir = str(tmp_path / "ckpt")
    cp.run_checkpointed(spark, df, ckpt_dir, PipelineConfig(checkpoint_buckets=4))
    for path, sinks in (("checkpoint", cp.read_sinks(spark, ckpt_dir)),
                        ("stream", _read_all(spark, streamed))):
        assert set(sinks) == set(want), path
        for name, t in sinks.items():
            assert sorted_rows(t) == want[name], (path, name)


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


def test_replay_after_partial_commit(spark, stream_dirs, streamed, tmp_path, monkeypatch):
    """A crash inside batch 1's commit, after six of its seven tables
    landed, then a restart on the same streaming checkpoint: Spark
    re-runs batch 1, whose replay must overwrite its partial output and
    take its verdicts from the earlier batches only. All seven tables
    then equal an uninterrupted drain row for row, and the oracle."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    rows, src_dir, _ = stream_dirs
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, name in enumerate(sorted(os.listdir(src_dir))):
        path = str(in_dir / name)
        shutil.copyfile(os.path.join(src_dir, name), path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))  # admitted by mtime
    out_dir = str(tmp_path / "out")

    attempts, armed, landed = [], [False], []
    real_process_batch, real_parquet = st.process_batch, DataFrameWriter.parquet

    def process_batch(spark_, df, batch_id, *args):
        attempts.append(batch_id)
        armed[0] = attempts == [0, 1]  # batch 1's first attempt only
        try:
            real_process_batch(spark_, df, batch_id, *args)
        finally:
            armed[0] = False

    def parquet(self, path, *args, **kwargs):
        table = os.path.relpath(path, out_dir).split(os.sep)[0]
        if armed[0] and table == "rejects":
            raise RuntimeError("injected crash before rejects commits")
        real_parquet(self, path, *args, **kwargs)
        if armed[0]:
            landed.append(table)

    monkeypatch.setattr(st, "process_batch", process_batch)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)

    def drain():
        q = st.start_stream(spark, str(in_dir), out_dir, PipelineConfig(),
                            checkpoint_dir=str(tmp_path / "ckpt"))
        return q.awaitTermination(300)

    with pytest.raises(StreamingQueryException):
        drain()
    assert len(landed) == 6  # batch 1 partially committed
    assert drain()
    assert attempts == [0, 1, 1, 2]

    got = _read_all(spark, out_dir)
    assert ({t: df.count() for t, df in got.items()}
            == OracleDB().run(rows).sink_counts())
    want = _read_all(spark, streamed)
    for name, df in got.items():
        assert sorted_rows(df) == sorted_rows(want[name]), name


def test_clash_probe_fails_loudly(spark, tmp_path):
    """The span history a micro-batch resolves against reads as empty
    (None) only when nothing is committed yet: a missing spans
    directory, or one holding just a crashed first write's
    ``_temporary``. A corrupt spans file raises instead of admitting
    spans that may clash; a corrupt manifest file likewise."""
    out = tmp_path / "out"
    assert st._span_history(spark, str(out), 1) is None
    (out / "spans" / "batch=0" / "_temporary").mkdir(parents=True)
    assert st._span_history(spark, str(out), 1) is None

    bad = tmp_path / "bad"
    for leaf in ("spans/batch=0", "_manifest/bucket_0"):
        (bad / leaf).mkdir(parents=True)
        (bad / leaf / "part-0.parquet").write_text("not a parquet file\n" * 8)
    with pytest.raises(Exception, match="not a Parquet file"):
        st._span_history(spark, str(bad), 1)
    assert cp.read_manifest_buckets(spark, str(out)) == set()
    with pytest.raises(Exception, match="not a Parquet file"):
        cp.read_manifest_buckets(spark, str(bad))


def test_clashing_batch_writes_read_no_history(spark, stream_dirs, tmp_path, monkeypatch):
    """A micro-batch that replays committed rows (an exporter retrying
    its requests): the history feeds the verdicts only, so no sink
    write's executed plan scans ``{out_dir}/spans``, and the batch
    commits what a sequential run of both copies adds."""
    from pyspark.sql.readwriter import DataFrameWriter

    rows, _, _ = stream_dirs
    df = transcripts_df(spark, rows)
    out_dir = str(tmp_path / "out")
    st.process_batch(spark, df, 0, out_dir, PipelineConfig())

    plans, real_parquet = [], DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    # scan nodes print their full paths, not the 100-character default
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        st.process_batch(spark, df, 1, out_dir, PipelineConfig())
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    monkeypatch.undo()
    assert len(plans) == 7
    assert [p for p in plans if f"{out_dir}/spans" in p] == []

    oracle = OracleDB().run(rows)
    first, n_rejects = oracle.sink_counts(), len(oracle.rejects)
    second = oracle.run(rows).sink_counts()
    got = {t: spark.read.parquet(f"{out_dir}/{t}/batch=1").count() for t in cp.FACT_TABLES}
    assert got == {t: second[t] - first[t] for t in cp.FACT_TABLES}
    assert got["spans"] == 0
    rejected = {(r.conv_id, r.turn_idx)
                for r in spark.read.parquet(f"{out_dir}/rejects/batch=1").collect()}
    assert rejected == {(r["conv_id"], r["turn_idx"]) for r in oracle.rejects[n_rejects:]}


def test_replayed_batch_history_counts_toward_the_cap(spark, tmp_path):
    """The cap bounds the pairs that collide with history, as a batch
    run over both copies would: rows with no duplicated span commit as
    batch 0 under a cap of their span count, and their replay as batch
    1 (two pairs per span) overflows and commits nothing."""
    rows = make_transcripts(40, seed=5, include_edges=False)
    oracle = OracleDB().run(rows)
    assert "spans PK violation" not in {r["reason"] for r in oracle.rejects}
    n_spans = oracle.sink_counts()["spans"]
    assert n_spans > 0
    cfg = PipelineConfig(max_conflict_turns=n_spans)
    df = transcripts_df(spark, rows)
    out_dir = tmp_path / "out"
    st.process_batch(spark, df, 0, str(out_dir), cfg)
    assert spark.read.parquet(str(out_dir / "spans")).count() == n_spans
    with pytest.raises(ConflictOverflowError):
        st.process_batch(spark, df, 1, str(out_dir), cfg)
    assert list(out_dir.glob("*/batch=1")) == []


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
