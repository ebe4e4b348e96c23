"""Report tree: the reference's nested six-branch analytics dict
(reference src/analyze/analytics.py:1030-1037; renderer :845-995),
computed off ONE cached parsed DataFrame.

The reference re-materializes a pandas frame per analyze function
(SURVEY.md §3.2 — the plan is re-scanned six-plus times); here every
branch shares the same cached lineage, and its 36 leaves come from seven
fused queries (``full_report``); the endpoint drill-down runs three of
them over the endpoint's rows (``endpoint_report``).  Output is a plain
JSON-serializable dict whose keys mirror the reference's report so
downstream consumers (dashboards, the CLI renderer) can switch without
changes.
"""

from __future__ import annotations

import datetime
import json
from collections import defaultdict
from functools import reduce
from concurrent.futures import ThreadPoolExecutor
from operator import itemgetter, or_
from pathlib import Path

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.columns import agent_type_lowered
from . import aggregates as A


# Leaf order is explicit, never a hash aggregate's collect order (which
# moves with spark.sql.shuffle.partitions).  Sort keys, after SURVEY
# §2.4/§2.6: groupby().size() leaves are key-ascending, value_counts()
# leaves count-descending then key-ascending.  A leaf passed no sort key
# is an ordered top-N (TakeOrderedAndProject), collected in its order.
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


def _records(df: DataFrame, sort=None) -> list[dict]:
    recs = [{k: _py(v) for k, v in r.asDict().items()} for r in df.collect()]
    if sort is not None:
        recs.sort(key=sort)
    return recs


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


# ---------------------------------------------------------------- fused queries
#
# Each query below is one Spark action that answers several report leaves,
# returned as {leaf: value}.  Every value equals, byte for byte in the
# report JSON, the aggregates.py function the leaf is named after
# (tests/report_reference.py composes those one leaf per action):
# - rates are written num / den * 100; Spark's avg(when(c, 1.0)
#   .otherwise(0.0)) * 100 is the same double, a sum of 1.0s being exact;
# - a mean is avg() over the leaf's own rows (the sum of integer sizes is
#   exact, so any summation order gives the same double);
# - a keyed top-N ranks with row_number over the leaf's (metric DESC,
#   key ASC), with rows the leaf filters out ranked after all others
#   (their metric is null, or 0 where the leaf keeps only positives);
# - calendar fields come from the session-zone minute string, never from
#   the Python process's zone;
# - strings sort by code point, which is Spark's UTF-8 binary order.

_WEEKDAYS = ("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")


def _pct(num: int, den: int) -> float | None:
    return num / den * 100 if den else None


def _rank(*order: Column) -> Column:
    """row_number over one global ordering: each keyed frame is one row
    per key, so this single-partition sort is key-sized."""
    return F.row_number().over(Window.orderBy(*order))


def _top(rows: list, rank: str, n: int, keep=lambda r: True) -> list:
    return sorted((r for r in rows if r[rank] <= n and keep(r)), key=itemgetter(rank))


def _cube(df: DataFrame) -> dict:
    """Q1: one minute × status × cache × method × has-path count cube.

    It is dimension-sized (at most minutes × a few small dimensions), and
    every time, status, cache and method leaf is a Python rollup of it:
    minute → 5-minute bucket → hour → day / hour of day / day of week are
    aligned, so each coarser count is an exact sum of finer ones."""
    rows = (
        df.groupBy(
            F.date_trunc("minute", "timestamp").alias("m"),
            "status_code", "cache_status", "http_method",
            F.col("path").isNotNull().alias("has_path"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("m", "yyyy-MM-dd HH:mm:ss").alias("minute"),
            "status_code", "cache_status", "http_method", "has_path", "n",
        )
        .collect()
    )
    per = defaultdict(lambda: defaultdict(int))
    # [rows, 4xx, 5xx] over non-null status; [rows, hit, miss] over non-null cache
    err, cache = [0, 0, 0], [0, 0, 0]
    cache_by_hod = defaultdict(lambda: [0, 0, 0])
    # [rows, 4xx, 5xx, >=500] over non-null status, path and timestamp
    err_by_hod = defaultdict(lambda: [0, 0, 0, 0])
    for minute, status, cs, method, has_path, n in rows:
        if method is not None:
            per["method"][method] += n
        if status is not None:
            per["status"][status] += n
            err[0] += n
            err[1] += n * (400 <= status <= 499)
            err[2] += n * (500 <= status <= 599)
        if cs is not None:
            per["cache"][cs] += n
            cache[0] += n
            cache[1] += n * (cs == "hit")
            cache[2] += n * (cs == "miss")
        if minute is None:
            continue
        hod = int(minute[11:13])
        per["minute"][minute] += n
        per["5min"][f"{minute[:14]}{int(minute[14:16]) // 5 * 5:02d}:00"] += n
        per["hour"][minute[:13] + ":00:00"] += n
        per["day"][minute[:10]] += n
        per["hod"][hod] += n
        if cs is not None:
            c = cache_by_hod[hod]
            c[0] += n
            c[1] += n * (cs == "hit")
            c[2] += n * (cs == "miss")
        if status is not None and has_path:
            e = err_by_hod[hod]
            e[0] += n
            e[1] += n * (400 <= status < 500)
            e[2] += n * (500 <= status < 600)
            e[3] += n * (status >= 500)

    def key_asc(counts: dict) -> dict:
        return {str(k): counts[k] for k in sorted(counts)}

    def count_desc(counts: dict) -> dict:
        return {str(k): v for k, v in sorted(counts.items(), key=_by_count)}

    def peak(counts: dict, key: str) -> dict:
        if not counts:
            return {}
        k, v = min(counts.items(), key=_by_count)
        return {key: k, "requests": v}

    dow = defaultdict(int)
    for day, n in per["day"].items():
        dow[_WEEKDAYS[datetime.date.fromisoformat(day).weekday()]] += n
    buckets = sorted(per["5min"].items())
    spikes = [
        {"time": t, "rate_change_pct": (n - prev) / prev * 100, "requests": n}
        for (_, prev), (t, n) in zip(buckets, buckets[1:])
    ]
    spikes.sort(key=lambda r: (-abs(r["rate_change_pct"]), r["time"]))
    total, n4, n5 = err
    n_cache, hits, misses = cache
    hours_c, hours_e = sorted(cache_by_hod), sorted(err_by_hod)
    return {
        "requests_per_hour": key_asc(per["hour"]),
        "requests_per_day": key_asc(per["day"]),
        "http_methods": count_desc(per["method"]),
        "status_code_distribution": count_desc(per["status"]),
        "error_rates": {
            "total_requests": total,
            "error_4xx_count": n4 if total else None,
            "error_4xx_rate": _pct(n4, total),
            "error_5xx_count": n5 if total else None,
            "error_5xx_rate": _pct(n5, total),
            "total_error_rate": _pct(n4 + n5, total),
        },
        "cache_statistics": count_desc(per["cache"]),
        "cache_hit_miss_rates": {
            "cache_hit_rate": _pct(hits, n_cache),
            "cache_miss_rate": _pct(misses, n_cache),
        },
        "requests_by_hour": key_asc(per["hod"]),
        "peak_hour": peak(per["hod"], "hour_of_day"),
        # the endpoint drill-down's top five hours
        "peak_hours": [{"hour_of_day": h, "requests": n}
                       for h, n in sorted(per["hod"].items(), key=_by_count)[:5]],
        "peak_minute": peak(per["minute"], "minute"),
        "largest_traffic_spikes": spikes[:5],
        "requests_by_day_of_week": key_asc(dow),
        "cache_miss_rate_by_hour": {str(h): _pct(cache_by_hod[h][2], cache_by_hod[h][0])
                                    for h in hours_c},
        "hourly_cache_performance": [
            {"hour_of_day": h, "hit_count": hit, "miss_count": miss,
             "hit_rate": _pct(hit, n), "miss_rate": _pct(miss, n)}
            for h in hours_c for n, hit, miss in [cache_by_hod[h]]
        ],
        "server_errors_by_hour": {str(h): err_by_hod[h][3] for h in hours_e
                                  if err_by_hod[h][3]},
        "hourly_error_rates": [
            {"hour_of_day": h, "total": n, "count_4xx": c4, "pct_4xx": _pct(c4, n),
             "count_5xx": c5, "pct_5xx": _pct(c5, n)}
            for h in hours_e for n, c4, c5, _ in [err_by_hod[h]]
        ],
    }


def _sizes(df: DataFrame) -> dict:
    """Q2: exact size percentiles, global and per hour of day, in one
    rollup.  Each leaf keeps its own null filter as a conditional input:
    the global statistics see every non-null size, the hourly ones only
    rows with a path and a timestamp too."""
    size = F.col("response_size")
    hourly = F.when(F.col("path").isNotNull() & F.col("timestamp").isNotNull(), size)
    rows = (
        df.rollup(F.hour("timestamp").alias("hour_of_day"))
        .agg(
            F.grouping_id().alias("g"),
            F.avg(size).alias("mean"),
            F.percentile(size, [0.5, 0.95, 0.99]).alias("p"),
            F.min(size).alias("min"),
            F.max(size).alias("max"),
            F.count(hourly).alias("h_n"),
            F.avg(hourly).alias("h_mean"),
            F.percentile(hourly, [0.5, 0.95]).alias("h_p"),
        )
        .filter((F.col("g") == 1) | (F.col("h_n") > 0))
        .collect()
    )
    # over no rows the rollup has no grand total; the leaf is then all null
    top = next((r for r in rows if r["g"] == 1), dict.fromkeys(("mean", "p", "min", "max")))
    p = top["p"] or (None,) * 3
    mb = 1024.0 * 1024.0
    return {
        "response_size_statistics": {
            "mean_size": top["mean"],
            "median_size": p[0],
            "min_size": top["min"],
            "max_size": top["max"],
            "p95_size": p[1],
            "p99_size": p[2],
        },
        "hourly_response_sizes": sorted(
            (
                {"hour_of_day": r["hour_of_day"], "mean_mb": r["h_mean"] / mb,
                 "median_mb": r["h_p"][0] / mb, "p95_mb": r["h_p"][1] / mb}
                for r in rows if r["g"] == 0
            ),
            key=_by_hour,
        ),
    }


def _paths(df: DataFrame) -> dict:
    """Q3: every path-keyed top-N from one groupBy(path) of conditional
    aggregates.  The outlier leaf's p99 threshold joins as a broadcast
    one-row frame, as in aggregates.outlier_large_responses."""
    size, status, cache = F.col("response_size"), F.col("status_code"), F.col("cache_status")
    n_params = F.size("query_params")
    many = F.when(n_params > 5, n_params)
    d = df.filter(F.col("path").isNotNull())
    thresh = d.agg(A._perc("response_size", 0.99).alias("p99_threshold"))
    per_path = d.crossJoin(F.broadcast(thresh)).groupBy("path").agg(
        F.count(F.lit(1)).alias("requests"),
        F.count(F.when(status >= 400, 1)).alias("errors"),
        F.avg(size).alias("mean_size"),
        F.max(size).alias("max_size"),
        F.count(size).alias("size_count"),
        (F.avg(F.when(cache == "miss", 1.0).when(cache.isNotNull(), 0.0)) * 100).alias("miss_rate"),
        (F.avg(F.when(status >= 400, 1.0).when(status.isNotNull(), 0.0)) * 100).alias("error_rate"),
        F.avg(many).alias("avg_params"),
        F.max(many).alias("max_params"),
        F.count(many).alias("params_count"),
        F.count(F.when(size > F.col("p99_threshold"), 1)).alias("outliers"),
        F.max("p99_threshold").alias("p99_threshold"),
    )
    ranks = {
        "rk_requests": 20, "rk_errors": 10, "rk_mean_size": 20, "rk_miss_rate": 20,
        "rk_error_rate": 20, "rk_avg_params": 20, "rk_outliers": 10,
    }
    rows = (
        per_path.select("*", *[_rank(F.desc(rk[3:]), F.asc("path")).alias(rk) for rk in ranks])
        .filter(reduce(or_, [F.col(rk) <= n for rk, n in ranks.items()]))
        .collect()
    )

    def top(rank: str, n: int, keep, **cols: str) -> list[dict]:
        return [{k: r[c] for k, c in cols.items()} for r in _top(rows, rank, n, keep)]

    def kv(rank: str, n: int, col: str, keep=lambda r: True) -> dict:
        return {r["path"]: r[col] for r in _top(rows, rank, n, keep)}

    def rated(col: str):
        return lambda r: r[col] is not None

    sized = itemgetter("size_count")
    return {
        "popular_endpoints": kv("rk_requests", 20, "requests"),
        "error_endpoints": kv("rk_errors", 10, "errors", itemgetter("errors")),
        "top_endpoints_by_size": top(
            "rk_mean_size", 10, sized,
            path="path", mean_size="mean_size", request_count="size_count"),
        "high_cache_miss_endpoints": kv("rk_miss_rate", 20, "miss_rate", rated("miss_rate")),
        "large_response_endpoints": top(
            "rk_mean_size", 20, sized, path="path", mean_size="mean_size",
            max_size="max_size", request_count="size_count"),
        "outlier_large_responses": top(
            "rk_outliers", 10, itemgetter("outliers"),
            path="path", p99_threshold="p99_threshold", outliers="outliers"),
        "high_error_rate_endpoints": kv(
            "rk_error_rate", 20, "error_rate", rated("error_rate")),
        "complex_query_endpoints": top(
            "rk_avg_params", 20, itemgetter("params_count"), path="path",
            avg_params="avg_params", max_params="max_params", request_count="params_count"),
    }


def _ips(df: DataFrame) -> dict:
    """Q4: the IP-keyed leaves from two aggregation levels, (ip, ua) then
    ip.  The modal UA is ``min(struct(-n, ua, n))`` over the non-null UAs,
    as in aggregates.top_request_ips_with_ua; the request-rate span is the
    min/max timestamp, as in aggregates.top_ips_by_request_rate."""
    ts = F.col("timestamp")
    pairs = df.filter(F.col("ip_address").isNotNull()).groupBy("ip_address", "user_agent").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(ts).alias("n_ts"),
        F.min(ts).alias("min_ts"),
        F.max(ts).alias("max_ts"),
    )
    modal = F.struct((-F.col("n")).alias("_neg"), F.col("user_agent").alias("ua"),
                     F.col("n").alias("cnt"))
    per_ip = pairs.groupBy("ip_address").agg(
        F.sum("n").alias("request_count"),
        F.min(F.when(F.col("user_agent").isNotNull(), modal)).alias("modal"),
        F.count("user_agent").alias("unique_ua_count"),
        F.sum("n_ts").alias("total_requests"),
        F.min("min_ts").alias("min_ts"),
        F.max("max_ts").alias("max_ts"),
    )
    span_min = (F.unix_timestamp("max_ts") - F.unix_timestamp("min_ts")) / 60.0
    rate = F.when(span_min > 0, F.col("total_requests") / span_min).otherwise(
        F.col("total_requests") / 1.0
    )
    rows = (
        per_ip.select(
            "ip_address", "request_count", "modal", "unique_ua_count", "total_requests",
            F.when(F.col("total_requests") > 0, rate).alias("requests_per_minute"),
            F.when(span_min > 0, span_min).otherwise(F.lit(1.0)).alias("time_span_minutes"),
        )
        .select(
            "*",
            _rank(F.desc("request_count"), F.asc("ip_address")).alias("rk_requests"),
            _rank(F.desc("requests_per_minute"), F.asc("ip_address")).alias("rk_rate"),
        )
        .filter((F.col("rk_requests") <= 20) | (F.col("rk_rate") <= 10))
        .collect()
    )

    def with_ua(r) -> dict:
        ua, cnt = (r["modal"]["ua"], r["modal"]["cnt"]) if r["modal"] else (None, 0)
        uniq = r["unique_ua_count"]
        label = "Unknown" if ua is None else f"{ua} ({uniq} unique UAs)" if uniq > 1 else ua
        return {"ip_address": r["ip_address"], "request_count": r["request_count"],
                "top_user_agent": label, "top_ua_count": cnt,
                "top_ua_percentage": cnt / r["request_count"] * 100,
                "unique_ua_count": uniq}

    return {
        "top_request_ips": {r["ip_address"]: r["request_count"]
                            for r in _top(rows, "rk_requests", 20)},
        "top_request_ips_with_ua": [with_ua(r) for r in _top(rows, "rk_requests", 10)],
        "top_ips_by_request_rate": [
            {k: r[k] for k in ("ip_address", "requests_per_minute", "total_requests",
                               "time_span_minutes")}
            for r in _top(rows, "rk_rate", 10, itemgetter("total_requests"))
        ],
    }


def _agents(df: DataFrame) -> dict:
    """Q5: groupBy(user_agent) over every row, its two top-Ns, and the
    agent-type rollup of that frame (null UA → Unknown): a per-type
    window sum, read off the first row of each type."""
    ua = F.col("user_agent")
    per_ua = df.groupBy("user_agent").agg(
        F.count(F.lit(1)).alias("requests"),
        F.avg("response_size").alias("mean_size"),
        F.count("response_size").alias("size_count"),
    )
    typed = per_ua.select(
        "*", agent_type_lowered(ua, F.lower(ua)).alias("agent_type")
    )
    by_type = Window.partitionBy("agent_type")
    rows = (
        typed.select(
            "*",
            F.sum("requests").over(by_type).alias("type_requests"),
            F.row_number().over(by_type.orderBy("user_agent")).alias("rk_type"),
            _rank(F.desc(F.when(ua.isNotNull(), F.col("requests"))), F.asc("user_agent"))
            .alias("rk_requests"),
            _rank(F.desc(F.when(ua.isNotNull(), F.col("mean_size"))), F.asc("user_agent"))
            .alias("rk_mean_size"),
        )
        .filter((F.col("rk_type") == 1) | (F.col("rk_requests") <= 20)
                | (F.col("rk_mean_size") <= 10))
        .collect()
    )

    def named(r) -> bool:
        return r["user_agent"] is not None

    types = {r["agent_type"]: r["type_requests"] for r in rows if r["rk_type"] == 1}
    return {
        "top_user_agents": {r["user_agent"]: r["requests"]
                            for r in _top(rows, "rk_requests", 20, named)},
        "agent_type_distribution": dict(sorted(types.items(), key=_by_count)),
        "user_agent_response_sizes": [
            {"user_agent": r["user_agent"], "mean_size": r["mean_size"],
             "request_count": r["size_count"]}
            for r in _top(rows, "rk_mean_size", 10, lambda r: named(r) and r["size_count"])
        ],
    }


def _params(df: DataFrame) -> dict:
    """Q6: the exploded query params grouped by (param) and by (param,
    value) in one pass.  One window ranks the param rows globally and the
    pair rows within their param; a second carries each param's rank to
    its pairs, so only the top params' top values are collected."""
    level = F.col("level")
    pairs = df.filter(F.col("query_params").isNotNull()).select(
        F.explode("query_params").alias("param", "value")
    )
    rows = (
        pairs.groupingSets([["param"], ["param", "value"]], "param", "value")
        .agg(F.grouping_id().alias("level"), F.count(F.lit(1)).alias("occurrences"))
        .select(
            "*",
            F.row_number().over(
                Window.partitionBy("level", F.when(level == 0, F.col("param")))
                .orderBy(F.desc("occurrences"), F.asc("param"), F.asc("value"))
            ).alias("rk"),
        )
        .select(
            "*",
            F.max(F.when(level == 1, F.col("rk"))).over(Window.partitionBy("param"))
            .alias("param_rk"),
        )
        .filter(((level == 1) & (F.col("rk") <= 20))
                | ((level == 0) & (F.col("param_rk") <= 10) & (F.col("rk") <= 10)))
        .collect()
    )
    params = sorted((r for r in rows if r["level"] == 1), key=itemgetter("rk"))
    totals = {r["param"]: r["occurrences"] for r in params}
    pv: dict[str, dict[str, int]] = {}
    for r in sorted((r for r in rows if r["level"] == 0),
                    key=lambda r: (-totals[r["param"]], r["param"], r["rk"])):
        pv.setdefault(r["param"], {})[str(r["value"])] = r["occurrences"]
    return {
        "most_common_parameters": {r["param"]: r["occurrences"] for r in params},
        "parameter_value_distributions": pv,
    }


def _signatures(df: DataFrame) -> dict:
    """Q7: the query-signature top-N, aggregates.top_query_signatures."""
    return {"top_query_signatures": _kv(A.top_query_signatures(df), "signature", "requests")}


# Report layout: branch → leaf names in the reference's key order.  A
# leaf in _MERGED is a one-row dict whose keys join the branch in place.
_LAYOUT = (
    ("traffic", ("total_requests", "requests_per_hour", "requests_per_day",
                 "popular_endpoints", "http_methods")),
    ("errors", ("status_code_distribution", "error_rates", "error_endpoints")),
    ("performance", ("cache_statistics", "cache_hit_miss_rates",
                     "response_size_statistics", "top_endpoints_by_size")),
    ("user_agents", ("top_user_agents", "agent_type_distribution")),
    ("query_patterns", ("most_common_parameters", "parameter_value_distributions",
                        "top_query_signatures")),
    ("slowness_investigation", (
        "requests_by_hour", "peak_hour", "peak_minute", "largest_traffic_spikes",
        "requests_by_day_of_week", "high_cache_miss_endpoints", "cache_miss_rate_by_hour",
        "hourly_cache_performance", "large_response_endpoints", "outlier_large_responses",
        "hourly_response_sizes", "high_error_rate_endpoints", "server_errors_by_hour",
        "hourly_error_rates", "complex_query_endpoints", "top_request_ips",
        "top_request_ips_with_ua", "top_ips_by_request_rate", "user_agent_response_sizes",
    )),
)
_MERGED = frozenset({"error_rates", "cache_hit_miss_rates"})


def full_report(df: DataFrame) -> dict:
    """The six-branch report tree (reference scripts/analyze_logs.py:956-965,
    src superset A:1030-1037), one cached scan for all branches.

    A count materialises the cache and is traffic.total_requests; then the
    seven fused queries run at once on the cached blocks, and the tree is
    assembled in report order.  A frame the caller already cached stays
    cached."""
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df = df.cache()
    try:
        leaves = {"total_requests": df.count()}
        queries = (_cube, _sizes, _paths, _ips, _agents, _params, _signatures)
        for part in _concurrent(df.sparkSession, [lambda q=q: q(df) for q in queries]):
            leaves.update(part)
    finally:
        if owned:
            df.unpersist()
    tree = {}
    for branch, keys in _LAYOUT:
        out = tree[branch] = {}
        for key in keys:
            if key in _MERGED:
                out.update(leaves[key])
            else:
                out[key] = leaves[key]
    return tree


def endpoint_report(df: DataFrame, endpoint: str) -> dict:
    """analyze_endpoint drill-down (reference src/analyze/analytics.py:642-759),
    incl. query_parameters.parameter_values (ref :746-757): top-5 values for
    the first-5 params, first-seen ordered when lineage columns exist.

    Four queries run at once: the report's cube, size and parameter
    queries over the endpoint's rows, and the first-seen parameter values."""
    d = df.filter(F.col("path") == F.lit(endpoint))
    order_col = next((c for c in ("event_id", "line_number") if c in df.columns), None)
    cube, sizes, params, values = _concurrent(df.sparkSession, [
        lambda: _cube(d),
        lambda: _sizes(d),
        lambda: _params(d),
        lambda: _param_values(A.endpoint_parameter_values(df, endpoint, order_col=order_col)),
    ])
    common = dict(list(params["most_common_parameters"].items())[:10])
    return {
        "endpoint": endpoint,
        "requests_by_hour": cube["requests_by_hour"],
        "peak_hours": cube["peak_hours"],
        "status_codes": cube["status_code_distribution"],
        "error_analysis": cube["error_rates"],
        "response_size_stats": sizes["response_size_statistics"],
        "cache_analysis": cube["cache_hit_miss_rates"],
        "most_common_params": common,
        "query_parameters": {"most_common": common, "parameter_values": values},
    }


def daily_summary_report(df: DataFrame) -> dict:
    """analyze_daily_summary (reference src/analyze/analytics.py:762-842)."""
    return {"days": _records(A.daily_summary(df), itemgetter("day"))}


def write_report(report: dict, path: str | Path) -> None:
    Path(path).write_text(json.dumps(report, indent=2, default=str))
