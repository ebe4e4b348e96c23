"""Routing-rule fan-out to multiple sinks (SURVEY.md §2.1 S12, §4).

The reference's orchestrator loops over sources writing one JSON per source
(reference scripts/query_logs.py:100-122); at scale the idiomatic Spark
shape is ONE pass that tags every row with its route and writes all sinks
with a single ``partitionBy`` job — no per-sink re-scan, no extra shuffle
(the write is append-only file fan-out within each task).

Routing keys per the north star: status class, service, language.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.columns import status_class


def route_column(kind: str = "status_class") -> Column:
    """Built-in routing rules; each yields a low-cardinality string."""
    if kind == "status_class":
        return status_class(F.col("status_code"))
    if kind == "service":
        return F.coalesce(F.col("service"), F.lit("unrouted"))
    if kind == "lang":
        return F.coalesce(F.col("lang"), F.lit("und"))
    raise ValueError(f"unknown routing rule: {kind}")


def with_route(df: DataFrame, kind: str = "status_class") -> DataFrame:
    return df.withColumn("route", route_column(kind))


def write_routed(
    df: DataFrame, base_path: str, kind: str = "status_class"
) -> DataFrame:
    """Fan-out write: one job, ``partitionBy('route')`` → one parquet sink
    dir per route under ``base_path``, replacing what was there.  Returns
    the routed DF (for count checks)."""
    routed = with_route(df, kind)
    routed.write.mode("overwrite").partitionBy("route").parquet(base_path)
    return routed


def routed_counts(df: DataFrame, kind: str = "status_class") -> DataFrame:
    """Per-sink aggregate counts — the routing verification contract: the
    per-route counts must partition the input (sum == total)."""
    return (
        with_route(df, kind)
        .groupBy("route")
        .agg(F.count(F.lit(1)).alias("rows"))
    )
