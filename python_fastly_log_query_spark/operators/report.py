"""Report tree: the reference's nested six-branch analytics dict
(reference src/analyze/analytics.py:1030-1037; renderer :845-995),
computed off ONE cached parsed DataFrame.

The reference re-materializes a pandas frame per analyze function
(SURVEY.md §3.2 — the plan is re-scanned six-plus times); here every
branch shares the same cached lineage, so the whole report is one scan
plus cheap aggregations.  Output is a plain JSON-serializable dict whose
keys mirror the reference's report so downstream consumers (dashboards,
the CLI renderer) can switch without changes.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from operator import itemgetter
from pathlib import Path

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from . import aggregates as A


# Leaf order is explicit, never a hash aggregate's collect order (which
# moves with spark.sql.shuffle.partitions).  Sort keys, after SURVEY
# §2.4/§2.6: groupby().size() leaves are key-ascending, value_counts()
# leaves count-descending then key-ascending.  A leaf passed no sort key
# is an ordered top-N (TakeOrderedAndProject), collected in its order.
_by_key = itemgetter(0)
_by_hour = itemgetter("hour_of_day")


def _by_count(kv: tuple) -> tuple:
    return -kv[1], kv[0]


def _kv(df: DataFrame, k: str, v: str, sort=None) -> dict:
    rows = [(r[k], _py(r[v])) for r in df.collect()]
    if sort is not None:
        rows.sort(key=sort)
    return {str(key): val for key, val in rows}


def _py(v):
    if hasattr(v, "item"):
        return v.item()
    return v


def _row(df: DataFrame) -> dict:
    rows = df.collect()
    return {k: _py(v) for k, v in rows[0].asDict().items()} if rows else {}


def _records(df: DataFrame, sort=None) -> list[dict]:
    recs = [{k: _py(v) for k, v in r.asDict().items()} for r in df.collect()]
    if sort is not None:
        recs.sort(key=sort)
    return recs


# A branch is a list of leaves (key, thunk): each thunk runs one Spark
# action and returns its part of the branch dict.  A None key merges the
# part's keys into the branch at that position.  Leaves share nothing but
# the input frame, so full_report and endpoint_report run them at once on
# a thread pool; a branch function called directly runs its leaves inline.


def _assemble(leaves: list, values) -> dict:
    out: dict = {}
    for (key, _), v in zip(leaves, values):
        if key is None:
            out.update(v)
        else:
            out[key] = v
    return out


def _inline(leaves: list) -> dict:
    return _assemble(leaves, [fn() for _, fn in leaves])


def _concurrent(spark: SparkSession, thunks: list) -> list:
    """Run every thunk on its own thread and return their results in order.

    Each thread inherits the caller's local properties (job group,
    scheduler pool), so its jobs are attributed as if run inline.  A
    failing thunk's exception is raised once every thunk has finished."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn)) for fn in thunks]
        return [f.result() for f in futures]


def _param_values(df: DataFrame) -> dict[str, dict[str, int]]:
    """A grouped top-k as {param: {value: occurrences}}: params
    in their top-parameter order, values in their rank order."""
    pv: dict[str, dict[str, int]] = {}
    for r in sorted(df.collect(), key=itemgetter("param_order", "param", "rk")):
        pv.setdefault(r["param"], {})[str(r["value"])] = _py(r["occurrences"])
    return pv


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


def traffic(df: DataFrame) -> dict:
    """analyze_traffic_patterns (reference src/analyze/analytics.py:36-82)."""
    return _inline(_traffic(df))


def errors(df: DataFrame) -> dict:
    """analyze_errors (reference src/analyze/analytics.py:85-124)."""
    return _inline(_errors(df))


def performance(df: DataFrame) -> dict:
    """analyze_performance (reference src/analyze/analytics.py:127-185)."""
    return _inline(_performance(df))


def user_agents(df: DataFrame) -> dict:
    """analyze_user_agents (reference src/analyze/analytics.py:188-259)."""
    return _inline(_user_agents(df))


def query_patterns(df: DataFrame) -> dict:
    """analyze_query_patterns (reference src/analyze/analytics.py:262-306)."""
    return _inline(_query_patterns(df))


def slowness_investigation(df: DataFrame) -> dict:
    """analyze_slowness_patterns (reference src/analyze/analytics.py:309-639)."""
    return _inline(_slowness_investigation(df))


_BRANCHES = (
    ("traffic", _traffic),
    ("errors", _errors),
    ("performance", _performance),
    ("user_agents", _user_agents),
    ("query_patterns", _query_patterns),
    ("slowness_investigation", _slowness_investigation),
)


def full_report(df: DataFrame) -> dict:
    """The six-branch report tree (reference scripts/analyze_logs.py:956-965,
    src superset A:1030-1037), one cached scan for all branches.

    The first leaf, traffic.total_requests, runs alone: its count
    materialises the cache, so the other leaves, all run at once, read
    cached blocks instead of each scanning the source.  A frame the caller
    already cached stays cached."""
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df = df.cache()
    try:
        tree = [(name, leaves(df)) for name, leaves in _BRANCHES]
        thunks = [fn for _, leaves in tree for _, fn in leaves]
        values = iter([thunks[0](), *_concurrent(df.sparkSession, thunks[1:])])
        return {name: _assemble(leaves, values) for name, leaves in tree}
    finally:
        if owned:
            df.unpersist()


def endpoint_report(df: DataFrame, endpoint: str) -> dict:
    """analyze_endpoint drill-down (reference src/analyze/analytics.py:642-759),
    incl. query_parameters.parameter_values (ref :746-757): top-5 values for
    the first-5 params, first-seen ordered when lineage columns exist."""
    parts = A.analyze_endpoint(df, endpoint)
    leaves = [
        ("requests_by_hour",
         lambda: _kv(parts["requests_by_hour"], "hour_of_day", "requests", _by_key)),
        ("peak_hours", lambda: _records(parts["peak_hours"])),
        ("status_codes",
         lambda: _kv(parts["status_codes"], "status_code", "requests", _by_count)),
        ("error_analysis", lambda: _row(parts["error_analysis"])),
        ("response_size_stats", lambda: _row(parts["response_size_stats"])),
        ("cache_analysis", lambda: _row(parts["cache_analysis"])),
        ("most_common_params",
         lambda: _kv(parts["most_common_params"], "param", "occurrences")),
        ("parameter_values", lambda: _param_values(parts["parameter_values"])),
    ]
    out = _assemble(leaves, _concurrent(df.sparkSession, [fn for _, fn in leaves]))
    pv = out.pop("parameter_values")
    return {
        "endpoint": endpoint,
        **out,
        "query_parameters": {"most_common": out["most_common_params"], "parameter_values": pv},
    }


def daily_summary_report(df: DataFrame) -> dict:
    """analyze_daily_summary (reference src/analyze/analytics.py:762-842)."""
    return {"days": _records(A.daily_summary(df), itemgetter("day"))}


def write_report(report: dict, path: str | Path) -> None:
    Path(path).write_text(json.dumps(report, indent=2, default=str))
