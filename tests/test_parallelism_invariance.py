"""Concurrency analogue of the reference's race test
(logging/rotation_test.go:147-204): identical sink contents regardless
of partitioning/parallelism — here 1 partition vs 16 salted partitions
on the same session. True executor-count scaling evidence lives in
bench.py (local[8] vs local[32] per the north rule)."""

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.fixtures import make_transcripts
from sqlite_otel_spark.plans.pipeline import run_pipeline
from tests.conftest import transcripts_df


def _fingerprint(result) -> dict:
    out = {}
    for name, df in result.sinks.items():
        out[name] = sorted(map(repr, df.collect()))
    return out


def test_partitioning_invariance(spark):
    rows = make_transcripts(400, seed=11)
    base = transcripts_df(spark, rows)

    one = run_pipeline(spark, base.coalesce(1), PipelineConfig(), do_salt=False)
    many = run_pipeline(
        spark, base, PipelineConfig(), repartition_to=16, do_salt=True
    )
    try:
        assert _fingerprint(one) == _fingerprint(many)
    finally:
        one.unpersist()
        many.unpersist()
