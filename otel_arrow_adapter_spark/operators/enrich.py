"""J4: broadcast-lookup enrichment (tool -> service/resource metadata).

The reference's decode side resolves surrogate keys against small in-memory
stores (/root/reference/pkg/otel/common/otlp/attributes.go:133-226); our
enrichment analog is a null-safe broadcast left join against the tool
catalog. Unknown tools are *flagged*, not dropped — the quarantine decision
is the router's (error-not-crash discipline of
pkg/otel/logs/otlp/logs.go:145-154).

Scale: the catalog is O(100) rows — always broadcast; zero shuffle on the
fact side regardless of fact size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# null tool -> null; a tool the catalog lacks -> false
_TOOL_KNOWN = "CASE WHEN tool IS NULL THEN CAST(NULL AS BOOLEAN) ELSE coalesce(tool_known, false) END"


def enrich_with_catalog(df: DataFrame, catalog: DataFrame) -> DataFrame:
    """Left-join catalog on ``tool``; adds service_name, resource_attrs,
    tool_known (false = tool present but not in catalog)."""
    cat = catalog.selectExpr("*", "true AS tool_known")
    out = df.join(F.broadcast(cat), on="tool", how="left")
    return out.withColumn("tool_known", F.expr(_TOOL_KNOWN))


def enrich_asof(
    df: DataFrame,
    versions: DataFrame,
    key: str = "tool",
    ts_col: str = "ts",
    valid_col: str = "valid_from_us",
    value_cols: tuple[str, ...] = ("service_name",),
) -> DataFrame:
    """Temporal (as-of / SCD2) enrichment: each row gets the dimension
    version in effect AT ITS TIMESTAMP — the newest version with
    valid_from <= ts.

    The reference has no as-of join (SURVEY §2.3); this is the Spark-first
    design for the dimension-sized case: the version table collapses to
    ONE row per key carrying its versions as a valid_from-sorted array,
    broadcast-joined, and the as-of lookup is a pure array expression
    (filter + element_at(-1)) — ZERO shuffle on the fact side at any
    scale, where the naive range join would shuffle 10^12 rows or explode
    the fact table by the version count."""
    per_key = versions.groupBy(key).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(valid_col).alias("_vf"), *value_cols))
        ).alias("_versions")
    )
    out = df.join(F.broadcast(per_key), on=key, how="left")
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # try_element_at: rows predating every version filter to an empty
    # array, where plain element_at(-1) RAISES under ANSI mode
    current = F.try_element_at(
        F.filter(F.col("_versions"), lambda v: v["_vf"] <= ts_us), F.lit(-1)
    )
    for c in value_cols:
        out = out.withColumn(c, current[c])
    return out.drop("_versions")
