"""The reports composed one leaf per Spark action: each leaf is the
aggregates.py function it is named after, collected and put in its
explicit order.  These are the references ``report.full_report`` and
``report.endpoint_report`` are compared against byte for byte
(tests/test_report_fused.py); the aggregates themselves are checked
against their DuckDB oracles in the registry sweep."""

from __future__ import annotations

from operator import itemgetter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_fastly_log_query_spark.operators import aggregates as A
from python_fastly_log_query_spark.operators.report import (
    _by_count, _by_hour, _kv, _param_values, _py, _records,
)

_by_key = itemgetter(0)


def _row(df: DataFrame) -> dict:
    rows = df.collect()
    return {k: _py(v) for k, v in rows[0].asDict().items()} if rows else {}


# A branch is a list of leaves (key, thunk); a None key merges the part's
# keys into the branch at that position.


def _traffic(df: DataFrame) -> list:
    return [
        ("total_requests", df.count),
        ("requests_per_hour",
         lambda: _kv(A.requests_per_hour(df), "hour", "requests", _by_key)),
        ("requests_per_day",
         lambda: _kv(A.requests_per_day(df), "day", "requests", _by_key)),
        ("popular_endpoints", lambda: _kv(A.popular_endpoints(df), "path", "requests")),
        ("http_methods",
         lambda: _kv(A.http_methods(df), "http_method", "requests", _by_count)),
    ]


def _errors(df: DataFrame) -> list:
    return [
        ("status_code_distribution",
         lambda: _kv(A.status_code_distribution(df), "status_code", "requests", _by_count)),
        (None, lambda: _row(A.error_rates(df))),
        ("error_endpoints", lambda: _kv(A.error_endpoints(df), "path", "errors")),
    ]


def _performance(df: DataFrame) -> list:
    return [
        ("cache_statistics",
         lambda: _kv(A.cache_statistics(df), "cache_status", "requests", _by_count)),
        (None, lambda: _row(A.cache_hit_miss_rates(df))),
        ("response_size_statistics", lambda: _row(A.response_size_stats(df))),
        ("top_endpoints_by_size", lambda: _records(A.top_endpoints_by_size(df))),
    ]


def _user_agents(df: DataFrame) -> list:
    return [
        ("top_user_agents",
         lambda: _kv(A.top_user_agents(df), "user_agent", "requests")),
        ("agent_type_distribution",
         lambda: _kv(A.agent_type_distribution(df), "agent_type", "requests", _by_count)),
    ]


def _query_patterns(df: DataFrame) -> list:
    return [
        ("most_common_parameters",
         lambda: _kv(A.most_common_parameters(df), "param", "occurrences")),
        ("parameter_value_distributions",
         lambda: _param_values(A.parameter_value_distributions(df))),
        ("top_query_signatures",
         lambda: _kv(A.top_query_signatures(df), "signature", "requests")),
    ]


def _slowness_investigation(df: DataFrame) -> list:
    return [
        ("requests_by_hour",
         lambda: _kv(A.requests_by_hour_of_day(df), "hour_of_day", "requests", _by_key)),
        ("peak_hour", lambda: _row(A.peak_hour(df))),
        ("peak_minute", lambda: _row(A.peak_minute(df))),
        ("largest_traffic_spikes", lambda: _records(A.largest_traffic_spikes(df))),
        ("requests_by_day_of_week",
         lambda: _kv(A.requests_by_day_of_week(df), "day_of_week", "requests", _by_key)),
        ("high_cache_miss_endpoints",
         lambda: _kv(A.high_cache_miss_endpoints(df), "path", "miss_rate")),
        ("cache_miss_rate_by_hour",
         lambda: _kv(A.cache_miss_rate_by_hour(df), "hour_of_day", "miss_rate", _by_key)),
        ("hourly_cache_performance",
         lambda: _records(A.hourly_cache_performance(df), _by_hour)),
        ("large_response_endpoints", lambda: _records(A.large_response_endpoints(df))),
        ("outlier_large_responses", lambda: _records(A.outlier_large_responses(df))),
        ("hourly_response_sizes", lambda: _records(A.hourly_response_sizes(df), _by_hour)),
        ("high_error_rate_endpoints",
         lambda: _kv(A.high_error_rate_endpoints(df), "path", "error_rate")),
        ("server_errors_by_hour",
         lambda: _kv(A.server_errors_by_hour(df), "hour_of_day", "server_errors", _by_key)),
        ("hourly_error_rates", lambda: _records(A.hourly_error_rates(df), _by_hour)),
        ("complex_query_endpoints", lambda: _records(A.complex_query_endpoints(df))),
        ("top_request_ips", lambda: _kv(A.top_request_ips(df), "ip_address", "requests")),
        # the modal-UA join follows the top-N limit, so its order is lost
        ("top_request_ips_with_ua",
         lambda: _records(A.top_request_ips_with_ua(df),
                          lambda r: (-r["request_count"], r["ip_address"]))),
        ("top_ips_by_request_rate", lambda: _records(A.top_ips_by_request_rate(df))),
        ("user_agent_response_sizes", lambda: _records(A.user_agent_response_sizes(df))),
    ]


_BRANCHES = (
    ("traffic", _traffic),
    ("errors", _errors),
    ("performance", _performance),
    ("user_agents", _user_agents),
    ("query_patterns", _query_patterns),
    ("slowness_investigation", _slowness_investigation),
)


def reference_report(df: DataFrame) -> dict:
    """The six-branch report tree, one leaf after another."""
    tree = {}
    for name, leaves in _BRANCHES:
        branch = tree[name] = {}
        for key, fn in leaves(df):
            if key is None:
                branch.update(fn())
            else:
                branch[key] = fn()
    return tree


def reference_endpoint_report(df: DataFrame, endpoint: str) -> dict:
    """The endpoint drill-down, one leaf after another."""
    d = df.filter(F.col("path") == F.lit(endpoint))
    order_col = next((c for c in ("event_id", "line_number") if c in df.columns), None)
    by_hour = A.requests_by_hour_of_day(d)
    common = _kv(A.most_common_parameters(d, 10), "param", "occurrences")
    return {
        "endpoint": endpoint,
        "requests_by_hour": _kv(by_hour, "hour_of_day", "requests", _by_key),
        "peak_hours": _records(
            by_hour.orderBy(F.desc("requests"), F.asc("hour_of_day")).limit(5)),
        "status_codes": _kv(A.status_code_distribution(d), "status_code", "requests", _by_count),
        "error_analysis": _row(A.error_rates(d)),
        "response_size_stats": _row(A.response_size_stats(d)),
        "cache_analysis": _row(A.cache_hit_miss_rates(d)),
        "most_common_params": common,
        "query_parameters": {
            "most_common": common,
            "parameter_values": _param_values(
                A.endpoint_parameter_values(df, endpoint, order_col=order_col)),
        },
    }
