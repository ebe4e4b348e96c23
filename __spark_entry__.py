"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship parse→enrich→route→aggregate pipeline on
sf0.001; ``queries``/``oracle_sql`` expose the full operator registry
(python_fastly_log_query_spark.queries) for the sf0.01 DuckDB gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from python_fastly_log_query_spark import queries as Q  # noqa: E402
from python_fastly_log_query_spark.datagen import geoip_dim  # noqa: E402
from python_fastly_log_query_spark.functions.columns import status_class  # noqa: E402
from python_fastly_log_query_spark.operators.enrich import enrich_geoip  # noqa: E402
from python_fastly_log_query_spark.oracle_corpus import parsed_events  # noqa: E402
from python_fastly_log_query_spark.session import SEMANTIC_CONFS  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: parse (``mapInArrow`` grok) → GeoIP broadcast enrich →
    status-class route → hourly rollup, on sf0.001."""
    for k, v in SEMANTIC_CONFS.items():
        spark.conf.set(k, v)
    # column pruning through the parse UDF: the rollup consumes only these
    parsed = parsed_events(
        spark, "/root/testdata/sf0.001",
        columns=["timestamp", "ip_address", "status_code", "response_size"],
    )
    enriched = enrich_geoip(parsed, geoip_dim(spark, 256))
    routed = enriched.withColumn("route", status_class(F.col("status_code")))
    return (
        routed.groupBy(
            F.date_format(F.date_trunc("hour", "timestamp"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "route",
            "country",
        )
        .agg(
            F.count(F.lit(1)).alias("requests"),
            F.sum("response_size").alias("bytes"),
        )
        .orderBy("hour", "route", "country")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return Q.queries()


def oracle_sql() -> dict[str, str]:
    return Q.oracle_sql()
