"""Plan-shape guards for the collector write path.

After the parse kernel nothing runs in Python. The relations the driver
builds (role/tool dims, conflict verdicts) must plan as JVM
``LocalTableScan``s; a Python list handed to ``createDataFrame`` would
plan as ``Scan ExistingRDD`` (a PythonRDD) and cost a Python-worker
task on every broadcast build.

The fact sinks are a filter+project over the persisted record stream
(surrogate ids are resolved at parse): their executed plans hold no
shuffle stage.

A repeated run reuses its generated code: the session's codegen cache
holds the whole write path, so a warm run compiles (almost) nothing."""

import re

import pytest

from sqlite_otel_spark.config import PipelineConfig
from sqlite_otel_spark.fixtures import write_transcripts_parquet
from sqlite_otel_spark.operators import aggregates
from sqlite_otel_spark.operators.conflicts import resolve_span_conflicts
from sqlite_otel_spark.operators.enrich import role_dim, tool_dim
from sqlite_otel_spark.plans.pipeline import (
    collect_aggregates,
    parse_records,
    run_pipeline,
    write_sinks,
)

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
            "fine_aggregate": aggregates.fine_aggregate(
                result.routed, result.sinks["rejects"]
            ),
        }
        assert len(result.sinks) == 7
        for name, df in outputs.items():
            assert PYTHON_SCAN not in _plan(df), name
        # the dims reach the routed plan as broadcast local relations
        assert "LocalTableScan" in _plan(result.routed)
    finally:
        result.unpersist()


def test_driver_relations_are_local(spark, source):
    records = parse_records(source, PipelineConfig()).persist()
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


def _shuffle_stages(plan: str) -> int:
    """Distinct AQE ShuffleQueryStage ids in an executed plan (the count
    scripts/explain_audit.count_exchanges takes)."""
    return len(set(re.findall(r"ShuffleQueryStage (\d+)", plan)))


def test_fact_sinks_do_not_shuffle(spark, source):
    result = run_pipeline(spark, source, PipelineConfig())
    try:
        for name in ("spans", "log_records", "metric_data_points"):
            df = result.sinks[name]
            assert df.collect(), name
            # after collect() the adaptive plan is final
            assert "isFinalPlan=true" in _plan(df), name
            assert _shuffle_stages(_plan(df)) == 0, name
        # the count is not vacuous: a dim dedup does shuffle
        resources = result.sinks["resources"]
        resources.collect()
        assert _shuffle_stages(_plan(resources)) > 0
    finally:
        result.unpersist()


# Classes a warm batch run may still compile: AQE re-plans a few
# sink_counts stages into variants the earlier runs have not generated
# yet. Measured 0 on the third run here (local[4]; 0-6 on the 12k-turn
# batch_bulk workload); a cache smaller than the run's working set
# recompiles about 118 per run.
WARM_COMPILE_BOUND = 8


def test_warm_run_reuses_generated_code(spark, source, tmp_path):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    cfg = PipelineConfig()

    def one_run(i):
        result = run_pipeline(spark, source, cfg)
        try:
            aggregates.sink_counts(result.sinks)
            collect_aggregates(result)
            write_sinks(result, str(tmp_path / f"run{i}"), cfg)
        finally:
            result.unpersist()

    one_run(0)
    one_run(1)
    before = compiles.getCount()
    one_run(2)
    assert compiles.getCount() - before <= WARM_COMPILE_BOUND


# Spark jobs one warm collect_aggregates call runs: ONE collect of the
# fine aggregate, which AQE runs as several jobs. Measured on this
# fixture (local[4], record cache materialized); a change in the count
# is a change in the aggregate's plan.
COLLECT_AGGREGATES_JOBS = 6


def test_collect_aggregates_job_count(spark, source):
    sc = spark.sparkContext
    result = run_pipeline(spark, source, PipelineConfig())
    try:
        aggregates.sink_counts(result.sinks)
        collect_aggregates(result)
        sc.setJobGroup("collect_aggregates", "job-count pin")
        try:
            collect_aggregates(result)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        jobs = sc.statusTracker().getJobIdsForGroup("collect_aggregates")
        assert len(jobs) == COLLECT_AGGREGATES_JOBS
    finally:
        result.unpersist()
