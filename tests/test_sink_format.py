"""Sink-layout policies of the one sink writer, ``write_tables``: A4
size-based file rotation (the logging/rotation.go:34-46 analogue —
rotate when a file would exceed MaxSize), the codec, and the M4 day
partitioning of the fact sinks — on the batch, checkpoint and stream
paths alike."""

import dataclasses
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.fixtures import make_transcripts
from sqlite_otel_spark.oracle import OracleDB
from sqlite_otel_spark.plans import checkpoint as cp
from sqlite_otel_spark.plans.pipeline import (
    FACT_TABLES,
    derive_max_records_per_file,
    run_pipeline,
    write_sinks,
    write_tables,
)
from sqlite_otel_spark.streaming import stream as st
from tests.conftest import TRANSCRIPT_ARROW_SCHEMA, transcripts_df


def _payload_df(spark, n=20_000):
    # md5 payloads are incompressible -> stable bytes/row for the test
    return spark.range(n).select(
        "id", F.md5(F.col("id").cast("string")).alias("payload")
    )


def test_size_based_rotation_splits_files(spark, tmp_path):
    target = 64 * 1024
    cfg = PipelineConfig(target_file_bytes=target, compression="snappy")
    # coalesce(1): file count must come from the rotation policy alone,
    # not from input partitioning
    write_tables({"t": _payload_df(spark).coalesce(1)}, str(tmp_path), cfg)
    files = glob.glob(str(tmp_path / "t" / "*.parquet"))
    assert len(files) > 1, "rotation produced a single file"
    for p in files:
        # files land at-or-under target modulo footer/page overhead
        assert os.path.getsize(p) <= target * 1.5, p


def test_derive_cap_scales_with_target(spark):
    df = _payload_df(spark, 5_000)
    small = derive_max_records_per_file(df, 64 * 1024, "snappy")
    large = derive_max_records_per_file(df, 1024 * 1024, "snappy")
    assert 0 < small < large
    assert derive_max_records_per_file(df.limit(0), 64 * 1024, "snappy") == 1


def test_derive_cap_codec_mapping(spark, tmp_path):
    """Spark-legal codec names that pyarrow spells differently (or not at
    all) must not break the rotation probe: 'uncompressed' maps to
    pyarrow 'none'; an unknown codec returns None so write_tables falls
    back to the static max_records_per_file cap (ADVICE r2 #3)."""
    df = _payload_df(spark, 2_000)
    assert derive_max_records_per_file(df, 64 * 1024, "uncompressed") > 0
    # unknown codec -> no derived cap; Spark cannot write lzo here, so
    # the static-cap fallback has no end-to-end check
    assert derive_max_records_per_file(df, 64 * 1024, "lzo") is None
    # end-to-end: 'uncompressed' + target_file_bytes writes every row
    cfg = PipelineConfig(target_file_bytes=64 * 1024,
                         compression="uncompressed")
    write_tables({"t": df.coalesce(1)}, str(tmp_path / "u"), cfg)
    assert spark.read.parquet(str(tmp_path / "u" / "t")).count() == 2_000


def test_gzip_compression_codec(spark, tmp_path):
    """C11: the reference gzips rotated files (logging/rotation.go:
    198-222); the sink analogue is the parquet codec option — files
    carry the codec marker and read back identically."""
    cfg = PipelineConfig(compression="gzip")
    df = _payload_df(spark, 500)
    write_tables({"t": df}, str(tmp_path), cfg)
    files = glob.glob(str(tmp_path / "t" / "*.parquet"))
    assert files and all(".gz.parquet" in f for f in files)
    assert spark.read.parquet(str(tmp_path / "t")).count() == 500


def test_partitioned_fact_sinks_prune(spark, tmp_path):
    """M4 partition layout (SURVEY §7): with partition_facts_by_day the
    fact sinks land as ts_day=... directories, and a date-filtered read
    prunes partitions (PartitionFilters in the scan, fewer files read) —
    the parquet analogue of Iceberg's days(ts) transform."""
    rows = make_transcripts(300, seed=11)
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).withColumn(  # fixture ts spans hours; spread across days for the test
        "ts", F.col("ts") + F.make_interval(days=F.col("turn_idx") % 3)
    )
    res = run_pipeline(spark, df, PipelineConfig())
    cfg = PipelineConfig(partition_facts_by_day=True)
    write_sinks(res, str(tmp_path), cfg)
    res.unpersist()

    day_dirs = glob.glob(str(tmp_path / "spans" / "ts_day=*"))
    assert len(day_dirs) >= 2, "fixture spans several days; want >=2 partitions"

    back = spark.read.parquet(str(tmp_path / "spans"))
    one_day = sorted(os.path.basename(d).split("=")[1] for d in day_dirs)[0]
    pruned = back.filter(F.col("ts_day") == one_day)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(ts_day" in plan
    # row equality vs the unpartitioned sink contents
    n_all = back.count()
    assert n_all == res.sinks["spans"].count()
    assert pruned.count() < n_all


def _write_batch(spark, rows, out, cfg):
    res = run_pipeline(spark, transcripts_df(spark, rows), cfg)
    try:
        write_sinks(res, out, cfg)
    finally:
        res.unpersist()
    return {t: spark.read.parquet(f"{out}/{t}") for t in res.sinks}


def _write_checkpointed(spark, rows, out, cfg):
    cfg = dataclasses.replace(cfg, checkpoint_buckets=2)
    cp.run_checkpointed(spark, transcripts_df(spark, rows), out, cfg)
    return cp.read_sinks(spark, out)


def _write_streamed(spark, rows, out, cfg):
    in_dir = f"{out}_in"
    os.makedirs(in_dir)
    n = len(rows) // 3
    for i, chunk in enumerate((rows[:n], rows[n:2 * n], rows[2 * n:])):
        path = f"{in_dir}/part-{i:03d}.parquet"
        pq.write_table(pa.Table.from_pylist(chunk, schema=TRANSCRIPT_ARROW_SCHEMA), path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))  # admitted by mtime
    q = st.start_stream(spark, in_dir, out, cfg, checkpoint_dir=f"{out}_ckpt")
    q.awaitTermination(300)
    sinks = {t: spark.read.parquet(f"{out}/{t}") for t in FACT_TABLES}
    sinks.update(st.read_dims(spark, out))
    return sinks


@pytest.mark.parametrize("write", [_write_batch, _write_checkpointed, _write_streamed],
                         ids=["batch", "checkpoint", "stream"])
def test_layout_holds_on_every_path(spark, tmp_path, write):
    """Batch, checkpoint buckets and stream micro-batches share one writer, so
    the sink layout options hold whichever way the run executes: the
    fact sinks land day-partitioned, the file cap bounds every spans
    file, and the sinks read back with the sequential oracle's counts."""
    rows = sorted(make_transcripts(300, seed=13),
                  key=lambda r: (r["conv_id"], r["turn_idx"]))
    cfg = PipelineConfig(partition_facts_by_day=True, max_records_per_file=50)
    out = str(tmp_path / "out")
    sinks = write(spark, rows, out, cfg)

    assert glob.glob(f"{out}/spans/**/ts_day=*", recursive=True)
    files = glob.glob(f"{out}/spans/**/*.parquet", recursive=True)
    assert files
    assert max(pq.ParquetFile(f).metadata.num_rows for f in files) <= 50
    assert {t: df.count() for t, df in sinks.items()} == OracleDB().run(rows).sink_counts()


def test_observed_counts_survive_rotation_probe(spark, tmp_path):
    """With ``target_file_bytes`` the writer samples each table before
    writing it. The checkpoint's manifest counts are Observations passed
    to the writer; they must count the written rows, not the sample's
    (an Observation completes on the first action over its DataFrame)."""
    obs = Observation("rows_t")
    cfg = PipelineConfig(target_file_bytes=64 * 1024, compression="snappy")
    write_tables({"t": _payload_df(spark)}, str(tmp_path), cfg, observe={"t": obs})
    assert obs.get["n"] == 20_000
