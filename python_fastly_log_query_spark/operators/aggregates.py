"""The reference dashboard aggregates (SURVEY.md §2.4, G1-G38) as
declarative DataFrame plans over ONE shared parsed DataFrame.

Design notes
------------
- The reference re-materializes ``pd.DataFrame(entries)`` inside every
  analyze function (reference src/analyze/analytics.py:42,90,132,193,314);
  here every aggregate is a plan over the same parsed DF — cache it once,
  compute all report branches from it (SURVEY.md §3.2).
- Every aggregate is pure ``groupBy``/``agg``/``window`` — partial (map-side)
  aggregation and whole-stage codegen come free; no Python in the hot path.
- Top-N: the reference's ``value_counts().head(N)`` tie order is pandas
  insertion order (nondeterministic); we standardize ties as
  (count DESC, key ASC) — the documented correctness contract (SURVEY.md §2.6).
- ``orderBy(...).limit(n)`` plans as TakeOrderedAndProject: a true
  distributed top-k, no global sort at 100 TB.
- Percentiles are always the exact ``percentile`` (pandas-parity linear
  interpolation, reference src/analyze/analytics.py:150-157).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.columns import query_signature

# ---------------------------------------------------------------- helpers


def _pct(cond: Column) -> Column:
    """share of rows matching cond, in % (conditional-avg formulation)."""
    return F.avg(F.when(cond, 1.0).otherwise(0.0)) * 100


def _perc(col: str, p: float) -> Column:
    return F.percentile(F.col(col), F.lit(p))


def top_n(df: DataFrame, key, n: int, cnt: str = "cnt") -> DataFrame:
    """groupBy(key).count() top-N with deterministic (count DESC, key ASC)."""
    key_col = key if isinstance(key, str) else "k"
    grouped = (
        df.groupBy(F.col(key).alias(key_col) if isinstance(key, str) else key.alias("k"))
        .agg(F.count(F.lit(1)).alias(cnt))
    )
    return grouped.orderBy(F.desc(cnt), F.asc(key_col)).limit(n)


# ---------------------------------------------------------------- traffic (G1-G5)


def total_requests(df: DataFrame) -> DataFrame:
    """G1 (reference src/analyze/analytics.py:77) — pre-null-filter count."""
    return df.agg(F.count(F.lit(1)).alias("total_requests"))


def requests_per_hour(df: DataFrame) -> DataFrame:
    """G2 (ref A:51-52) — the north-star hourly traffic rollup."""
    return (
        df.filter(F.col("timestamp").isNotNull())
        .groupBy(F.date_format(F.date_trunc("hour", "timestamp"), "yyyy-MM-dd HH:mm:ss").alias("hour"))
        .agg(F.count(F.lit(1)).alias("requests"))
    )


def requests_per_day(df: DataFrame) -> DataFrame:
    """G3 (ref A:55-56)."""
    return (
        df.filter(F.col("timestamp").isNotNull())
        .groupBy(F.to_date("timestamp").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).alias("requests"))
    )


def popular_endpoints(df: DataFrame, n: int = 20) -> DataFrame:
    """G4 (ref A:66)."""
    return top_n(df.filter(F.col("path").isNotNull()), "path", n, "requests")


def http_methods(df: DataFrame) -> DataFrame:
    """G5 (ref A:72)."""
    return (
        df.filter(F.col("http_method").isNotNull())
        .groupBy("http_method")
        .agg(F.count(F.lit(1)).alias("requests"))
    )


# ---------------------------------------------------------------- errors (G6-G8)


def status_code_distribution(df: DataFrame) -> DataFrame:
    """G6 (ref A:94)."""
    return (
        df.filter(F.col("status_code").isNotNull())
        .groupBy("status_code")
        .agg(F.count(F.lit(1)).alias("requests"))
    )


def error_rates(df: DataFrame) -> DataFrame:
    """G7 (ref A:98-123): one-row 4xx/5xx counts and % over non-null status."""
    d = df.filter(F.col("status_code").isNotNull())
    c4 = F.col("status_code").between(400, 499)
    c5 = F.col("status_code").between(500, 599)
    return d.agg(
        F.count(F.lit(1)).alias("total_requests"),
        F.sum(F.when(c4, 1).otherwise(0)).alias("error_4xx_count"),
        _pct(c4).alias("error_4xx_rate"),
        F.sum(F.when(c5, 1).otherwise(0)).alias("error_5xx_count"),
        _pct(c5).alias("error_5xx_rate"),
        _pct(c4 | c5).alias("total_error_rate"),
    )


def error_endpoints(df: DataFrame, n: int = 10) -> DataFrame:
    """G8 (ref A:103-105): top error paths where status ≥ 400."""
    d = df.filter(
        F.col("status_code").isNotNull()
        & (F.col("status_code") >= 400)
        & F.col("path").isNotNull()
    )
    return top_n(d, "path", n, "errors")


# ---------------------------------------------------------------- performance (G9-G11)


def cache_statistics(df: DataFrame) -> DataFrame:
    """G9 counts (ref A:136-139)."""
    return (
        df.filter(F.col("cache_status").isNotNull())
        .groupBy("cache_status")
        .agg(F.count(F.lit(1)).alias("requests"))
    )


def cache_hit_miss_rates(df: DataFrame) -> DataFrame:
    """G9 rates (ref A:176-179): hit%/miss% over non-null cache_status."""
    d = df.filter(F.col("cache_status").isNotNull())
    return d.agg(
        _pct(F.col("cache_status") == "hit").alias("cache_hit_rate"),
        _pct(F.col("cache_status") == "miss").alias("cache_miss_rate"),
    )


def response_size_stats(df: DataFrame) -> DataFrame:
    """G10 (ref A:150-157): global mean/median/min/max/p95/p99."""
    d = df.filter(F.col("response_size").isNotNull())
    return d.agg(
        F.avg("response_size").alias("mean_size"),
        _perc("response_size", 0.5).alias("median_size"),
        F.min("response_size").alias("min_size"),
        F.max("response_size").alias("max_size"),
        _perc("response_size", 0.95).alias("p95_size"),
        _perc("response_size", 0.99).alias("p99_size"),
    )


def top_endpoints_by_size(df: DataFrame, n: int = 10) -> DataFrame:
    """G11 (ref A:161-166): top paths by mean response size."""
    d = df.filter(F.col("response_size").isNotNull() & F.col("path").isNotNull())
    return (
        d.groupBy("path")
        .agg(F.avg("response_size").alias("mean_size"), F.count(F.lit(1)).alias("request_count"))
        .orderBy(F.desc("mean_size"), F.asc("path"))
        .limit(n)
    )


# ---------------------------------------------------------------- user agents (G12-G13)


def top_user_agents(df: DataFrame, n: int = 20) -> DataFrame:
    """G12 (ref A:197)."""
    return top_n(df.filter(F.col("user_agent").isNotNull()), "user_agent", n, "requests")


def agent_type_distribution(df: DataFrame) -> DataFrame:
    """G13 (ref A:222-223): classifier over ALL rows (null UA → Unknown).

    Two-step projection materializes ``lower(ua)`` once per row so the
    13-reference when-chain stays cheap inside codegen."""
    from ..functions.columns import agent_type_lowered

    lowered = df.select(
        F.col("user_agent").alias("_ua"), F.lower("user_agent").alias("_lo")
    )
    return (
        lowered.select(
            agent_type_lowered(F.col("_ua"), F.col("_lo")).alias("agent_type")
        )
        .groupBy("agent_type")
        .agg(F.count(F.lit(1)).alias("requests"))
    )


# ---------------------------------------------------------------- query patterns (G14-G16)


def most_common_parameters(df: DataFrame, n: int = 20) -> DataFrame:
    """G14 (ref A:268-289): explode the param map, count keys."""
    d = df.filter(F.col("query_params").isNotNull()).select(
        F.explode(F.map_keys("query_params")).alias("param")
    )
    return top_n(d, "param", n, "occurrences")


def parameter_value_distributions(
    df: DataFrame, n_params: int = 10, n_values: int = 10
) -> DataFrame:
    """G15 (ref A:269,282,292-294): grouped top-k — top values per top param.

    Expressed as a ranking window over (param) partitions; the param
    restriction (top ``n_params``) is a broadcast semi-join of G14.
    Rows sort into report order by (param_order, param, rk) with no Spark
    sort: ``param_order`` (G14's order, param occurrences DESC) is a window
    over the ranking window's partitioning, so it adds no shuffle or job.
    """
    from pyspark.sql.window import Window

    top_params = most_common_parameters(df, n_params).select("param")
    pairs = (
        df.filter(F.col("query_params").isNotNull())
        .select(F.explode("query_params").alias("param", "value"))
        .join(F.broadcast(top_params), "param")
        .groupBy("param", "value")
        .agg(F.count(F.lit(1)).alias("occurrences"))
    )
    w = Window.partitionBy("param").orderBy(F.desc("occurrences"), F.asc("value"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .withColumn(
            "param_order",
            F.sum(-F.col("occurrences")).over(Window.partitionBy("param")),
        )
        .filter(F.col("rk") <= n_values)
    )


def top_query_signatures(df: DataFrame, n: int = 20) -> DataFrame:
    """G16 (ref A:284-297): path?sorted-params signature counts."""
    d = df.select(
        query_signature(F.col("path"), F.col("query_params")).alias("signature")
    )
    return top_n(d, "signature", n, "requests")


# ---------------------------------------------------------------- slowness: time (G17-G22)


def _with_time(df: DataFrame) -> DataFrame:
    return df.filter(F.col("timestamp").isNotNull())


def requests_by_hour_of_day(df: DataFrame) -> DataFrame:
    """G17 (ref A:324,330-331): hour-of-day 0-23 histogram."""
    return (
        _with_time(df)
        .groupBy(F.hour("timestamp").alias("hour_of_day"))
        .agg(F.count(F.lit(1)).alias("requests"))
    )


def peak_hour(df: DataFrame) -> DataFrame:
    """G18 (ref A:334-340): argmax hour-of-day; ties → smallest hour
    (pandas dict iteration is sorted by group key)."""
    return requests_by_hour_of_day(df).orderBy(
        F.desc("requests"), F.asc("hour_of_day")
    ).limit(1)


def requests_per_minute(df: DataFrame) -> DataFrame:
    """G19 (ref A:326,343-344)."""
    return (
        _with_time(df)
        .groupBy(
            F.date_format(F.date_trunc("minute", "timestamp"), "yyyy-MM-dd HH:mm:ss").alias("minute")
        )
        .agg(F.count(F.lit(1)).alias("requests"))
    )


def peak_minute(df: DataFrame) -> DataFrame:
    """G18b (ref A:347-353)."""
    return requests_per_minute(df).orderBy(F.desc("requests"), F.asc("minute")).limit(1)


def requests_per_5min(df: DataFrame) -> DataFrame:
    """G20 (ref A:327,356-357): tumbling 5-minute buckets.

    ``window(ts, '5 minutes')`` ≡ pandas ``dt.floor('5min')`` (epoch-aligned).
    """
    return (
        _with_time(df)
        .groupBy(F.window("timestamp", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("requests"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "requests",
        )
    )


def largest_traffic_spikes(df: DataFrame, n: int = 5) -> DataFrame:
    """G21 (ref A:360-376): %Δ between consecutive 5-min buckets via lag().

    The bucket series is tiny (one row per 5 min) — a single-partition
    window over it is safe at any input scale.
    """
    from pyspark.sql.window import Window

    buckets = requests_per_5min(df)
    w = Window.orderBy("bucket")
    return (
        buckets.withColumn("prev", F.lag("requests").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("prev") > 0))
        .select(
            F.col("bucket").alias("time"),
            ((F.col("requests") - F.col("prev")) / F.col("prev") * 100).alias("rate_change_pct"),
            "requests",
        )
        .orderBy(F.desc(F.abs(F.col("rate_change_pct"))), F.asc("time"))
        .limit(n)
    )


def requests_by_day_of_week(df: DataFrame) -> DataFrame:
    """G22 (ref A:325,379-380)."""
    return (
        _with_time(df)
        .groupBy(F.date_format("timestamp", "EEEE").alias("day_of_week"))
        .agg(F.count(F.lit(1)).alias("requests"))
    )


# ---------------------------------------------------------------- slowness: cache (G23-G25)


def high_cache_miss_endpoints(df: DataFrame, n: int = 20) -> DataFrame:
    """G23 (ref A:387-391): miss% per path over non-null cache rows."""
    d = df.filter(F.col("cache_status").isNotNull() & F.col("path").isNotNull())
    return (
        d.groupBy("path")
        .agg(_pct(F.col("cache_status") == "miss").alias("miss_rate"))
        .orderBy(F.desc("miss_rate"), F.asc("path"))
        .limit(n)
    )


def cache_miss_rate_by_hour(df: DataFrame) -> DataFrame:
    """G24 (ref A:394-403)."""
    d = df.filter(F.col("cache_status").isNotNull() & F.col("timestamp").isNotNull())
    return (
        d.groupBy(F.hour("timestamp").alias("hour_of_day"))
        .agg(_pct(F.col("cache_status") == "miss").alias("miss_rate"))
    )


def hourly_cache_performance(df: DataFrame) -> DataFrame:
    """G25 (ref A:406-417): multi-measure conditional agg per hour."""
    d = df.filter(F.col("cache_status").isNotNull() & F.col("timestamp").isNotNull())
    return d.groupBy(F.hour("timestamp").alias("hour_of_day")).agg(
        F.sum(F.when(F.col("cache_status") == "hit", 1).otherwise(0)).alias("hit_count"),
        F.sum(F.when(F.col("cache_status") == "miss", 1).otherwise(0)).alias("miss_count"),
        _pct(F.col("cache_status") == "hit").alias("hit_rate"),
        _pct(F.col("cache_status") == "miss").alias("miss_rate"),
    )


# ---------------------------------------------------------------- slowness: sizes (G26-G28)


def large_response_endpoints(df: DataFrame, n: int = 20) -> DataFrame:
    """G26 (ref A:424-432)."""
    d = df.filter(F.col("response_size").isNotNull() & F.col("path").isNotNull())
    return (
        d.groupBy("path")
        .agg(
            F.avg("response_size").alias("mean_size"),
            F.max("response_size").alias("max_size"),
            F.count(F.lit(1)).alias("request_count"),
        )
        .orderBy(F.desc("mean_size"), F.asc("path"))
        .limit(n)
    )


def outlier_large_responses(df: DataFrame, n: int = 10) -> DataFrame:
    """G27 (ref A:435-443): rows with size strictly above global p99 —
    two-pass (percentile, then filter); the threshold is a broadcast scalar
    (cross-join of a 1-row DF), so no driver collect."""
    d = df.filter(F.col("response_size").isNotNull() & F.col("path").isNotNull())
    thresh = d.agg(_perc("response_size", 0.99).alias("p99_threshold"))
    above = d.join(F.broadcast(thresh)).filter(F.col("response_size") > F.col("p99_threshold"))
    return (
        above.groupBy("path", "p99_threshold")
        .agg(F.count(F.lit(1)).alias("outliers"))
        .orderBy(F.desc("outliers"), F.asc("path"))
        .limit(n)
    )


def hourly_response_sizes(df: DataFrame) -> DataFrame:
    """G28 (ref A:446-461): per hour-of-day mean/median/p95 in MB."""
    d = df.filter(
        F.col("response_size").isNotNull()
        & F.col("path").isNotNull()
        & F.col("timestamp").isNotNull()
    )
    mb = 1024.0 * 1024.0
    return d.groupBy(F.hour("timestamp").alias("hour_of_day")).agg(
        (F.avg("response_size") / mb).alias("mean_mb"),
        (_perc("response_size", 0.5) / mb).alias("median_mb"),
        (_perc("response_size", 0.95) / mb).alias("p95_mb"),
    )


# ---------------------------------------------------------------- slowness: errors (G29-G31)


def high_error_rate_endpoints(df: DataFrame, n: int = 20) -> DataFrame:
    """G29 (ref A:468-472)."""
    d = df.filter(F.col("status_code").isNotNull() & F.col("path").isNotNull())
    return (
        d.groupBy("path")
        .agg(_pct(F.col("status_code") >= 400).alias("error_rate"))
        .orderBy(F.desc("error_rate"), F.asc("path"))
        .limit(n)
    )


def server_errors_by_hour(df: DataFrame) -> DataFrame:
    """G30 (ref A:480-481)."""
    d = df.filter(
        F.col("status_code").isNotNull()
        & F.col("path").isNotNull()
        & F.col("timestamp").isNotNull()
        & (F.col("status_code") >= 500)
    )
    return d.groupBy(F.hour("timestamp").alias("hour_of_day")).agg(
        F.count(F.lit(1)).alias("server_errors")
    )


def hourly_error_rates(df: DataFrame) -> DataFrame:
    """G31 (ref A:483-497)."""
    d = df.filter(
        F.col("status_code").isNotNull()
        & F.col("path").isNotNull()
        & F.col("timestamp").isNotNull()
    )
    c4 = (F.col("status_code") >= 400) & (F.col("status_code") < 500)
    c5 = (F.col("status_code") >= 500) & (F.col("status_code") < 600)
    return d.groupBy(F.hour("timestamp").alias("hour_of_day")).agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(c4, 1).otherwise(0)).alias("count_4xx"),
        _pct(c4).alias("pct_4xx"),
        F.sum(F.when(c5, 1).otherwise(0)).alias("count_5xx"),
        _pct(c5).alias("pct_5xx"),
    )


# ---------------------------------------------------------------- slowness: queries (G32)


def complex_query_endpoints(df: DataFrame, n: int = 20) -> DataFrame:
    """G32 (ref A:500-530): rows with >5 params, per-path param-count stats.

    The reference only counts rows where query_params is a non-empty dict
    with more than 5 entries; path may be null (grouped as null → dropped
    by pandas groupby, mirrored with a not-null filter)."""
    d = df.filter(
        F.col("query_params").isNotNull() & (F.size("query_params") > 5) & F.col("path").isNotNull()
    ).select("path", F.size("query_params").alias("param_count"))
    return (
        d.groupBy("path")
        .agg(
            F.avg("param_count").alias("avg_params"),
            F.max("param_count").alias("max_params"),
            F.count(F.lit(1)).alias("request_count"),
        )
        .orderBy(F.desc("avg_params"), F.asc("path"))
        .limit(n)
    )


# ---------------------------------------------------------------- slowness: IPs (G33-G35)


def top_request_ips(df: DataFrame, n: int = 20) -> DataFrame:
    """G33 (ref A:536-538)."""
    return top_n(df.filter(F.col("ip_address").isNotNull()), "ip_address", n, "requests")


def top_request_ips_with_ua(df: DataFrame, n: int = 10) -> DataFrame:
    """G34 (ref A:541-584): per top-N IP, the modal UA + distinct-UA count.

    Grouped mode as ONE aggregate (opt r6): ``min(struct(-ua_cnt,
    user_agent, ua_cnt))`` orders exactly like the previous ranking
    window's (ua_cnt DESC, user_agent ASC) — struct comparison uses the
    same binary string order as a sort — and ``(ip, ua)`` is unique per
    group, so the elected row is identical while the two window passes
    (rank + per-partition count, each a sort) collapse into a
    map-side-combinable aggregate.  The reference's label rule: append
    ``" (N unique UAs)"`` when N > 1."""
    d = df.filter(F.col("ip_address").isNotNull())
    tops = top_n(d, "ip_address", n, "request_count")
    with_ua = d.filter(F.col("user_agent").isNotNull()).join(
        F.broadcast(tops), "ip_address"
    )
    ua_counts = with_ua.groupBy("ip_address", "user_agent").agg(
        F.count(F.lit(1)).alias("ua_cnt")
    )
    modal = (
        ua_counts.groupBy("ip_address")
        .agg(
            F.min(
                F.struct(
                    (-F.col("ua_cnt")).alias("_neg"),
                    F.col("user_agent").alias("ua"),
                    F.col("ua_cnt").alias("cnt"),
                )
            ).alias("_m"),
            F.count(F.lit(1)).alias("unique_ua_count"),
        )
        .select(
            "ip_address",
            F.col("_m.ua").alias("user_agent"),
            F.col("_m.cnt").alias("ua_cnt"),
            "unique_ua_count",
        )
    )
    out = tops.join(modal, "ip_address", "left")
    return out.select(
        "ip_address",
        "request_count",
        F.when(F.col("user_agent").isNull(), "Unknown")
        .when(
            F.col("unique_ua_count") > 1,
            F.concat(
                F.col("user_agent"),
                F.lit(" ("),
                F.col("unique_ua_count").cast("string"),
                F.lit(" unique UAs)"),
            ),
        )
        .otherwise(F.col("user_agent"))
        .alias("top_user_agent"),
        F.coalesce(F.col("ua_cnt"), F.lit(0)).alias("top_ua_count"),
        (F.coalesce(F.col("ua_cnt"), F.lit(0)) / F.col("request_count") * 100).alias(
            "top_ua_percentage"
        ),
        F.coalesce(F.col("unique_ua_count"), F.lit(0)).alias("unique_ua_count"),
    )


def top_ips_by_request_rate(df: DataFrame, n: int = 10) -> DataFrame:
    """G35 (ref A:586-626): requests/minute per IP from the (min,max) span.

    The reference's per-IP Python loop collapses to ONE aggregation:
    count + min(ts) + max(ts) per ip, then pure arithmetic.  Span of 0
    (or a single request) divides by 1.0 minute."""
    d = df.filter(F.col("ip_address").isNotNull() & F.col("timestamp").isNotNull())
    per_ip = d.groupBy("ip_address").agg(
        F.count(F.lit(1)).alias("total_requests"),
        F.min("timestamp").alias("min_ts"),
        F.max("timestamp").alias("max_ts"),
    )
    span_min = (
        F.unix_timestamp("max_ts") - F.unix_timestamp("min_ts")
    ) / 60.0
    rate = F.when(span_min > 0, F.col("total_requests") / span_min).otherwise(
        F.col("total_requests") / 1.0
    )
    return (
        per_ip.select(
            "ip_address",
            rate.alias("requests_per_minute"),
            "total_requests",
            F.when(span_min > 0, span_min).otherwise(F.lit(1.0)).alias("time_span_minutes"),
        )
        .orderBy(F.desc("requests_per_minute"), F.asc("ip_address"))
        .limit(n)
    )


# ---------------------------------------------------------------- slowness: UA sizes (G36)


def user_agent_response_sizes(df: DataFrame, n: int = 10) -> DataFrame:
    """G36 (ref A:629-637)."""
    d = df.filter(F.col("user_agent").isNotNull() & F.col("response_size").isNotNull())
    return (
        d.groupBy("user_agent")
        .agg(F.avg("response_size").alias("mean_size"), F.count(F.lit(1)).alias("request_count"))
        .orderBy(F.desc("mean_size"), F.asc("user_agent"))
        .limit(n)
    )


# ---------------------------------------------------------------- drill-down (G37) & daily (G38)


def endpoint_parameter_values(
    df: DataFrame,
    endpoint: str,
    n_params: int = 5,
    n_values: int = 5,
    order_col: str | None = None,
) -> DataFrame:
    """G37 completion (ref A:735-757): per-endpoint top-``n_values`` values
    for the first-``n_params`` params.

    The reference iterates entries in file order and relies on dict /
    Counter INSERTION order — first-5 params = first ever seen, and count
    ties among values resolve to the earliest-seen value.  A distributed
    engine has no ambient row order, so first-seen rank is computed
    explicitly: ``min(order_col * 4096 + param_position_in_query_string)``
    (``order_col`` is a lineage column — event_id / line_number; map
    insertion order survives the Arrow boundary, verified by the golden
    parity test).  With no order column, params/value-ties fall back to
    count-desc / name-asc ranking — deterministic, but a documented
    deviation from the reference's order-dependent slice.  That order is
    kept as columns: rows sort by (param_order, param, rk), as in
    :func:`parameter_value_distributions`.
    """
    from pyspark.sql.window import Window

    d = df.filter(F.col("path") == F.lit(endpoint)).filter(
        F.col("query_params").isNotNull()
    )
    if order_col is not None:
        pairs = d.select(
            F.col(order_col).alias("_ord"),
            F.posexplode("query_params").alias("pos", "param", "value"),
        ).select(
            "param",
            "value",
            (F.col("_ord") * 4096 + F.least(F.col("pos"), F.lit(4095))).alias("seen"),
        )
        pv = pairs.groupBy("param", "value").agg(
            F.count(F.lit(1)).alias("occurrences"), F.min("seen").alias("first_seen")
        )
        top_params = (
            pv.groupBy("param")
            .agg(F.min("first_seen").alias("param_seen"))
            .orderBy("param_seen")
            .limit(n_params)
            .select("param")
        )
        w = Window.partitionBy("param").orderBy(
            F.desc("occurrences"), F.asc("first_seen")
        )
        param_order = F.min("first_seen")
    else:
        pairs = d.select(F.explode("query_params").alias("param", "value"))
        pv = pairs.groupBy("param", "value").agg(
            F.count(F.lit(1)).alias("occurrences")
        )
        top_params = (
            pv.groupBy("param")
            .agg(F.sum("occurrences").alias("n"))
            .orderBy(F.desc("n"), F.asc("param"))
            .limit(n_params)
            .select("param")
        )
        w = Window.partitionBy("param").orderBy(F.desc("occurrences"), F.asc("value"))
        param_order = F.sum(-F.col("occurrences"))
    return (
        pv.join(F.broadcast(top_params), "param")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("param_order", param_order.over(Window.partitionBy("param")))
        .filter(F.col("rk") <= n_values)
        .select("param", "value", "occurrences", "rk", "param_order")
    )


def daily_summary(df: DataFrame) -> DataFrame:
    """G38 (ref A:762-842): per-day totals + status-class breakdown + %.

    Flattened to columns (the reference emits a nested dict); classes per
    ref A:816-827 are inclusive-exclusive [100,200)...[500,600)."""
    d = df.filter(F.col("timestamp").isNotNull())

    def cls(lo: int, hi: int) -> Column:
        return F.sum(
            F.when(
                F.col("status_code").isNotNull()
                & (F.col("status_code") >= lo)
                & (F.col("status_code") < hi),
                1,
            ).otherwise(0)
        )

    agg = d.groupBy(F.to_date("timestamp").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("total_requests"),
        cls(100, 200).alias("c1xx"),
        cls(200, 300).alias("c2xx"),
        cls(300, 400).alias("c3xx"),
        cls(400, 500).alias("c4xx"),
        cls(500, 600).alias("c5xx"),
    )
    out = agg
    for c in ("c1xx", "c2xx", "c3xx", "c4xx", "c5xx"):
        out = out.withColumn(
            "p" + c[1:], F.col(c) / F.col("total_requests") * 100
        )
    return out


# ---------------------------------------------------- funnels / retention


def funnel_counts(
    events: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
) -> DataFrame:
    """Ordered funnel analysis: how many users performed stage1 →
    stage2 → … IN TIME ORDER (other events may interleave) — the
    product-analytics query every event log answers (reference analog:
    the per-IP behavioural rollups of
    ``/root/reference/src/analyze/analytics.py:536-626`` lifted to
    ordered sequences).

    Per user, the event-type sequence is assembled ONCE —
    ``sort_array(collect_list(struct(ts, event_id, type)))`` gives a
    deterministic total order (event_id breaks ts ties) — and each
    funnel prefix is a subsequence regex test on the joined string
    (``(?s)`` dotall, shared Java/RE2 dialect).  Returns one row per
    funnel depth: ``(stage, depth, users)``.

    Scale: one map-side-combined shuffle on ``user_col``; per-user
    state is that user's OWN event count (a hot user makes a long
    array, not a hot partition — aggregation state, where skew belongs,
    not a window).  The regex tests and the depth fan-out are map-only
    over one row per user."""
    seq = events.groupBy(user_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("ts"),
                            F.col("event_id"),
                            F.col("event_type").alias("t"),
                        )
                    )
                ),
                lambda s: s["t"],
            ),
            " ",
        ).alias("_seq")
    )
    out = None
    for depth in range(1, len(stages) + 1):
        pat = "(?s).*\\b" + "\\b.*\\b".join(stages[:depth]) + "\\b.*"
        row = seq.agg(
            F.sum(F.col("_seq").rlike(pat).cast("long")).alias("users")
        ).select(
            F.lit(" -> ".join(stages[:depth])).alias("stage"),
            F.lit(depth).cast("long").alias("depth"),
            F.col("users").cast("long"),
        )
        out = row if out is None else out.union(row)
    return out


def hourly_retention(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Hour-over-hour retention: of the users active in hour h, how
    many are also active in hour h+1 — the cohort stickiness rollup.
    Distinct (user, hour) pairs self-join on ``(user, hour+1)``; both
    sides shuffle on the same key so the join co-locates, and the
    output is hours-sized.  Returns ``(hour, active_users,
    retained_users, retained_ppm)`` in integer ppm."""
    uh = events.select(
        F.col(user_col).alias("u"), F.date_trunc("hour", "ts").alias("h")
    ).distinct()
    nxt = uh.select("u", (F.col("h") - F.expr("INTERVAL 1 HOUR")).alias("h"))
    j = uh.join(nxt.withColumn("_r", F.lit(1)), ["u", "h"], "left")
    return (
        j.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum(F.coalesce(F.col("_r"), F.lit(0))).alias("retained_users"),
        )
        .selectExpr(
            "h AS hour",
            "CAST(active_users AS LONG) AS active_users",
            "CAST(retained_users AS LONG) AS retained_users",
            "retained_users * 1000000L div active_users AS retained_ppm",
        )
    )


def equidepth_histogram(df: DataFrame, col: str, buckets: int = 4) -> DataFrame:
    """Exact equi-depth histogram of an integer column: ``buckets``
    bins each holding ~n/buckets rows, with integer-exact breakpoints —
    the selectivity profile an optimizer zone-map / a latency SLO report
    wants, without interpolated quantiles (whose last-ulp float
    arithmetic differs between engines and would flip boundary rows).

    Breakpoints are ORDER STATISTICS computed the scale-correct way for
    bounded-cardinality numerics: counts per distinct value (one
    map-side-combined shuffle, output = distinct values, a dimension
    next to the fact table), a running cumsum over that frame, and
    breakpoint q = the smallest value whose cumulative count reaches
    ceil(q*n) — all integer arithmetic, bit-identical in any engine.
    The cumsum window is single-partition BY DESIGN over the
    distinct-value frame (same rule as shard_plan's offsets rollup);
    a genuinely high-cardinality column takes the rid-bucketed prefix
    sum instead.

    Returns ``(bucket, lo, hi, n_rows)`` — bucket 0..buckets-1, lo/hi
    the bin's actual value span.
    """
    from pyspark.sql import Window

    vals = (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = vals.withColumn("cum", F.sum("c").over(w))
    tot = cum.agg(F.max("cum").alias("n"))
    # breakpoint for quantile k/buckets: min v with cum*buckets >= k*n
    # (integer cross-multiply — no division, no floats)
    bk = cum.crossJoin(F.broadcast(tot)).agg(
        *[
            F.min(
                F.when(F.col("cum") * buckets >= k * F.col("n"), F.col("v"))
            ).alias(f"b{k}")
            for k in range(1, buckets)
        ]
    )
    marked = cum.crossJoin(F.broadcast(bk))
    bucket = F.lit(buckets - 1)
    for k in range(buckets - 1, 0, -1):
        bucket = F.when(F.col("v") <= F.col(f"b{k}"), F.lit(k - 1)).otherwise(
            bucket
        )
    return (
        marked.select(bucket.alias("bucket"), "v", "c")
        .groupBy("bucket")
        .agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.sum("c").alias("n_rows"),
        )
    )
