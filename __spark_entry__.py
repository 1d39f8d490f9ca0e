"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship transcript pipeline (parse -> enrich ->
route -> aggregate) on the deterministic fixture and returns the
time-bucket rollup. ``queries``/``oracle_sql`` expose every implemented
operator from SURVEY.md §2 plus the training-data-pipeline ops; see
sqlite_otel_spark/queries.py for the registry.

Note on inputs: BASELINE.json's input_hint mandates a transcripts table
(conv_id, turn_idx, role, text, tool, ts) which does not exist in
/root/testdata — it is synthesized deterministically (fixtures.py,
seed=42) per the driver brief; pipeline queries therefore use golden
VALUES oracles computed by the sequential reference-semantics oracle,
while all shared-table queries use live DuckDB SQL oracles (the LSH
family via the cross-engine md5hash60 so MinHash/SimHash/hyperplane
bucketing reproduce in DuckDB). Every entry has a full value-hash
oracle — no rows-only checks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sqlite_otel_spark.queries import ORACLES, QUERIES, aggregate_view


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full pipeline on the deterministic transcript fixture;
    returns the per-hour signal/tool rollup (A3). The fixture is built
    in memory, so entry() reads none of the shared source tables.
    ``s6_health_check`` only proves the session schedules a job and
    checks the static source schema; source reachability is exercised
    by the queries that read ``sf_dir``."""
    return aggregate_view(spark, "by_time_bucket")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
