"""D1-D3, D6: dimension dedup + surrogate keys (SURVEY §2.4).

The reference deduplicates resources / instrumentation scopes / metric
definitions with INSERT..ON CONFLICT DO NOTHING against unique natural-key
indexes and resolves the surrogate id with a follow-up SELECT
(database/shared.go:25-163; indexes database/db.go:153-155).

Spark design: id = xxhash64(kind-tag, natural key). The id is a pure
function of the row, so ``enrich_record_ids`` resolves every FK on the
record stream right after parse with ZERO joins, zero shuffles and no
cross-partition coordination; facts are then a filter+project, and
dimensions dedup independently (per batch, checkpoint bucket or
micro-batch, merging without coordination). This is what survives
100 TB and per-partition resume. Collisions are 64-bit-birthday rare
(~n²/2⁶⁵) and detectable (dims are materialized).

Oracle equality is on natural keys + counts, never id values — the
reference's AUTOINCREMENT ids are arrival-order-dependent (SURVEY §7b).

Logs with a missing resource keep resource_id = 0 and create no
dimension row (database/logs.go:29-35) — represented by a null natural
key mapped to literal 0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RESOURCE_NK = ["res_attributes", "res_schema_url"]
SCOPE_NK = ["scope_name", "scope_version", "scope_attributes", "scope_schema_url"]


def resource_id_expr(attrs: Column, url: Column) -> Column:
    return F.when(attrs.isNull(), F.lit(0)).otherwise(
        F.xxhash64(F.lit("res"), attrs, url)
    )


def scope_id_expr(name: Column, version: Column, attrs: Column, url: Column) -> Column:
    return F.xxhash64(F.lit("scope"), name, version, attrs, url)


def metric_id_expr(name: Column, metric_type: Column, rid: Column, sid: Column) -> Column:
    return F.xxhash64(F.lit("metric"), name, metric_type, rid, sid)


def build_resources(records: DataFrame) -> DataFrame:
    """resources(id, attributes, schema_url) — db.go:63-67. Input is the
    flat record stream (operators/records.py); dimension touches are the
    rec_kind='resource' rows."""
    touched = (
        records.filter(F.col("rec_kind") == "resource")
        .select(
            F.col("res_attributes").alias("attributes"),
            F.col("res_schema_url").alias("schema_url"),
        )
        .dropDuplicates(["attributes", "schema_url"])
    )
    return touched.select(
        F.xxhash64(F.lit("res"), "attributes", "schema_url").alias("id"),
        "attributes",
        "schema_url",
    )


def build_scopes(records: DataFrame) -> DataFrame:
    """instrumentation_scopes(id, name, version, attributes, schema_url)
    — db.go:70-76."""
    touched = (
        records.filter(F.col("rec_kind") == "scope")
        .select(
            F.col("scope_name").alias("name"),
            F.col("scope_version").alias("version"),
            F.col("scope_attributes").alias("attributes"),
            F.col("scope_schema_url").alias("schema_url"),
        )
        .dropDuplicates(["name", "version", "attributes", "schema_url"])
    )
    return touched.select(
        F.xxhash64(F.lit("scope"), "name", "version", "attributes", "schema_url").alias("id"),
        "name", "version", "attributes", "schema_url",
    )


# metric_def rows once enrich_record_ids resolved their dimension ids
METRIC_DEF_COLS = [
    "conv_id", "turn_idx", "pos", "name", "description", "unit",
    "metric_type", "resource_id", "scope_id",
]


def build_metric_defs(records: DataFrame) -> DataFrame:
    """metrics(id, name, description, unit, metric_type, resource_id,
    scope_id) — db.go:101-111. First definition wins for description/unit
    (shared.go:140-141): ranked by canonical arrival order
    (conv_id, turn_idx, in-turn pos). The metric_def rows carry the ids
    enrich_record_ids resolved on the stream."""
    defs = records.filter(F.col("rec_kind") == "metric_def").select(
        *METRIC_DEF_COLS
    )
    # First-definition-wins as min_by over the canonical arrival order
    # (conv_id, turn_idx, pos) — a hash aggregate with MAP-SIDE PARTIALS
    # instead of the previous row_number window (which shuffled every
    # def row and sorted each partition; guide §2.3 "aggregate before
    # you shuffle"). (conv_id, turn_idx, pos) is unique per def row, so
    # min_by is tie-free and the result rows are identical.
    first = (
        defs.groupBy("name", "metric_type", "resource_id", "scope_id")
        .agg(
            F.min_by(
                F.struct("description", "unit"),
                F.struct("conv_id", "turn_idx", "pos"),
            ).alias("__first")
        )
        .select(
            "name",
            F.col("__first.description").alias("description"),
            F.col("__first.unit").alias("unit"),
            "metric_type", "resource_id", "scope_id",
        )
    )
    return first.select(
        metric_id_expr(
            F.col("name"), F.col("metric_type"), F.col("resource_id"), F.col("scope_id")
        ).alias("id"),
        "name", "description", "unit", "metric_type", "resource_id", "scope_id",
    )


FACT_KINDS = ("span", "log", "point")


def enrich_record_ids(records: DataFrame) -> DataFrame:
    """Resolve surrogate ids ONCE on the record stream right after parse,
    then null out the six denormalized dimension-key strings on fact rows
    before the stream is persisted/staged.

    Scale rationale: every span/log/point row otherwise carries ~0.5 KB
    of duplicated resource/scope JSON through the cache and every
    downstream scan; after this projection facts carry two 8-byte ids
    (D5 enrichment, database/traces.go:34,62,79) and the full strings
    survive only on the (rare) dimension-touch rows that need them."""
    needs_ids = F.col("rec_kind").isin("metric_def", *FACT_KINDS)
    rid = resource_id_expr(F.col("res_attributes"), F.col("res_schema_url"))
    sid = scope_id_expr(
        F.col("scope_name"), F.col("scope_version"),
        F.col("scope_attributes"), F.col("scope_schema_url"),
    )
    out = records.withColumn(
        "resource_id", F.when(needs_ids, rid)
    ).withColumn(
        "scope_id", F.when(needs_ids, sid)
    ).withColumn(
        "metric_id",
        F.when(
            F.col("rec_kind") == "point",
            metric_id_expr(
                F.col("metric_name"), F.col("metric_type"),
                F.col("resource_id"), F.col("scope_id"),
            ),
        ),
    )
    keep = F.col("rec_kind").isin("resource", "scope", "metric_def")
    for c in (*RESOURCE_NK, *SCOPE_NK):
        out = out.withColumn(c, F.when(keep, F.col(c)))
    return out

