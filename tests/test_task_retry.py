"""Task retry: a parse task that fails on its first attempt and succeeds
on its retry must leave the seven sinks and the A1-A3 aggregates
bit-identical to a clean run. The parse kernel keeps per-worker memos
(canonical JSON, natural keys) that outlive a task, so a retry runs in
a worker whose memos the failed attempt already filled.

The session fixture's ``local[4]`` master never retries a task, so the
runs happen in a child process on ``local[2,2]`` (two cores, two
attempts per task)."""

import json
import os
import subprocess
import sys

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.fixtures import make_transcripts
from sqlite_otel_spark.oracle import OracleDB
from tests.conftest import TRANSCRIPT_SCHEMA, sorted_rows

ROWS = dict(n_turns=300, seed=13)


def _flaky(make_kernel, marker_dir):
    """``make_kernel`` whose kernel fails partition 0's first attempt
    after emitting its first batch, when the whole input batch is
    parsed and the memos are filled."""

    def factory(*args, **kwargs):
        gen = make_kernel(*args, **kwargs)

        def kernel(batches):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            fail = ctx.attemptNumber() == 0 and ctx.partitionId() == 0
            for out in gen(batches):
                yield out
                if fail:
                    open(os.path.join(marker_dir, f"task-{ctx.taskAttemptId()}"), "w").close()
                    raise RuntimeError("injected first-attempt failure")

        return kernel

    return factory


def _child(marker_dir: str) -> None:
    """Runs in the child process: a clean run, then a run whose parse
    tasks fail once; prints one JSON line comparing them."""
    from sqlite_otel_spark.operators import records
    from sqlite_otel_spark.plans.pipeline import collect_aggregates, run_pipeline
    from sqlite_otel_spark.session import get_spark

    spark = get_spark(app_name="task-retry", master="local[2,2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("OFF")
    df = spark.createDataFrame(make_transcripts(**ROWS), schema=TRANSCRIPT_SCHEMA)

    def run():
        result = run_pipeline(spark, df, PipelineConfig())
        try:
            sinks = {name: sorted_rows(t) for name, t in result.sinks.items()}
            aggs = {k: sorted(map(repr, v)) for k, v in collect_aggregates(result).items()}
        finally:
            result.unpersist()
        return sinks, aggs

    clean = run()
    real = records.make_kernel
    records.make_kernel = _flaky(real, marker_dir)
    try:
        retried = run()
    finally:
        records.make_kernel = real
    print(json.dumps({
        "failed_attempts": len(os.listdir(marker_dir)),
        "differing_sinks": sorted(n for n in clean[0] if clean[0][n] != retried[0][n]),
        "aggregates_equal": clean[1] == retried[1],
        "counts": {n: len(v) for n, v in retried[0].items()},
    }))
    spark.stop()


def test_retried_parse_task_is_bit_identical(tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"from tests.test_task_retry import _child; _child({str(tmp_path)!r})"
    proc = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True,
                          text=True, timeout=600,
                          env={**os.environ, "PYTHONPATH": root})
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["failed_attempts"] > 0  # the fault fired and the task was retried
    assert got["differing_sinks"] == []
    assert got["aggregates_equal"]
    assert got["counts"] == OracleDB().run(make_transcripts(**ROWS)).sink_counts()
