"""Plan-shape guard for the collector write path: after the parse kernel
nothing runs in Python. The relations the driver builds (role/tool dims,
conflict verdicts) must plan as JVM ``LocalTableScan``s; a Python list
handed to ``createDataFrame`` would plan as ``Scan ExistingRDD`` (a
PythonRDD) and cost a Python-worker task on every broadcast build."""

import pytest

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.fixtures import write_transcripts_parquet
from sqlite_otel_spark.operators.conflicts import resolve_span_conflicts
from sqlite_otel_spark.operators.enrich import role_dim, tool_dim
from sqlite_otel_spark.plans.pipeline import parse_records, run_pipeline

PYTHON_SCAN = "Scan ExistingRDD"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def source(spark, tmp_path_factory):
    # a parquet source, so the input is not itself an ExistingRDD;
    # make_transcripts' edge turns carry the span-PK cascade
    path = str(tmp_path_factory.mktemp("plan_shape") / "transcripts.parquet")
    write_transcripts_parquet(path, 200, seed=7)
    return spark.read.parquet(path)


def test_write_path_has_no_python_scan(spark, source):
    result = run_pipeline(spark, source, PipelineConfig())
    try:
        assert result.n_conflict_invalid == 1
        outputs = {
            **result.sinks,
            "routed": result.routed,
            "accounting": result.accounting,
            "by_signal_tool": result.by_signal_tool,
            "by_time_bucket": result.by_time_bucket,
        }
        assert len(result.sinks) == 7
        for name, df in outputs.items():
            assert PYTHON_SCAN not in _plan(df), name
        # the dims reach the routed plan as broadcast local relations
        assert "LocalTableScan" in _plan(result.routed)
    finally:
        result.unpersist()


def test_driver_relations_are_local(spark, source):
    records = parse_records(source, PipelineConfig(), "hash").persist()
    try:
        invalid, n = resolve_span_conflicts(spark, records)
        assert n == 1
        for name, df in (("role_dim", role_dim(spark)),
                         ("tool_dim", tool_dim(spark)),
                         ("invalid_turns", invalid)):
            plan = _plan(df)
            assert "LocalTableScan" in plan, name
            assert PYTHON_SCAN not in plan, name
    finally:
        records.unpersist()
