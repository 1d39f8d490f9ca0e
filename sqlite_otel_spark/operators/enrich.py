"""D5: broadcast-joined lookup enrichment on the role/tool dimensions
(north_star: 'broadcast-joined lookup enrichment on role/tool
dimensions'). The reference's analogue is resolving every fact's
resource_id/scope_id in-stream (database/traces.go:34,62,79); the graft
adds conversation-level dimensions.

Always an explicit ``F.broadcast`` left join (north-rule §4.2.3): the
dims are a handful of rows, and relying on the autoBroadcast threshold
would be fragile under AQE re-planning at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlite_otel_spark.fixtures import role_dim_rows, tool_dim_rows
from sqlite_otel_spark.session import local_frame

ROLE_DIM_SCHEMA = "role string, role_kind string, is_automated boolean"
TOOL_DIM_SCHEMA = "tool string, tool_category string, cost_weight double"


def role_dim(spark: SparkSession) -> DataFrame:
    return local_frame(spark, role_dim_rows(), ROLE_DIM_SCHEMA)


def tool_dim(spark: SparkSession) -> DataFrame:
    return local_frame(spark, tool_dim_rows(), TOOL_DIM_SCHEMA)


def enrich(df: DataFrame, roles: DataFrame, tools: DataFrame) -> DataFrame:
    """Left joins: transcript tool values absent from the dim keep null
    enrichment columns (FIXTURES.md §3 null path)."""
    return (
        df.join(F.broadcast(roles), "role", "left")
        .join(F.broadcast(tools), "tool", "left")
    )
