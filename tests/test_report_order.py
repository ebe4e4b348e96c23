"""The report's bytes do not depend on spark.sql.shuffle.partitions: every
leaf built from a hash aggregate is put in an explicit order after its
collect (SURVEY §2.4/§2.6), so one cached frame reported at 4 and at 32
shuffle partitions gives byte-identical JSON."""

from __future__ import annotations

import json

import pytest

from python_fastly_log_query_spark import oracle_corpus as oc
from python_fastly_log_query_spark.operators import report as R

from conftest import SF_SMALL

ENDPOINT = "/api/purchase"


@pytest.fixture(scope="module")
def reports(spark):
    df = oc.parsed_events(spark, SF_SMALL).cache()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = {}
    try:
        df.count()
        for parts in (4, 32):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            out[parts] = json.dumps(
                {
                    "full": R.full_report(df),
                    "endpoint": R.endpoint_report(df, ENDPOINT),
                    "daily": R.daily_summary_report(df),
                }
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        df.unpersist()
    return out


def _key_asc(d: dict, key=str) -> None:
    assert len(d) > 1
    assert list(d) == sorted(d, key=key)


def _count_desc(d: dict, key=str) -> None:
    assert len(d) > 1
    assert list(d) == sorted(d, key=lambda k: (-d[k], key(k)))


def test_report_bytes_do_not_depend_on_shuffle_partitions(reports):
    assert reports[4] == reports[32]


def test_reordered_leaves_are_in_their_stated_order(reports):
    rep = json.loads(reports[32])
    full, ep = rep["full"], rep["endpoint"]
    t, e, p = full["traffic"], full["errors"], full["performance"]
    ua, qp, s = full["user_agents"], full["query_patterns"], full["slowness_investigation"]

    # groupby().size(): key-ascending; numeric keys as numbers, day names
    # alphabetically, as pandas sorts them
    for leaf, key in (
        (t["requests_per_hour"], str),
        (t["requests_per_day"], str),
        (s["requests_by_hour"], int),
        (s["requests_by_day_of_week"], str),
        (s["cache_miss_rate_by_hour"], int),
        (s["server_errors_by_hour"], int),
        (ep["requests_by_hour"], int),
    ):
        _key_asc(leaf, key)
    for recs in (
        s["hourly_cache_performance"],
        s["hourly_response_sizes"],
        s["hourly_error_rates"],
    ):
        hours = [r["hour_of_day"] for r in recs]
        assert len(hours) > 1 and hours == sorted(hours)
    days = [r["day"] for r in rep["daily"]["days"]]
    assert days == sorted(days)

    # value_counts(): count-descending, then key-ascending
    for leaf, key in (
        (t["http_methods"], str),
        (e["status_code_distribution"], int),
        (p["cache_statistics"], str),
        (ua["agent_type_distribution"], str),
        (ep["status_codes"], int),
    ):
        _count_desc(leaf, key)

    ips = s["top_request_ips_with_ua"]
    assert len(ips) > 1
    assert ips == sorted(ips, key=lambda r: (-r["request_count"], r["ip_address"]))

    # parameter values: the top-parameter order, then occurrences
    # descending, then value ascending
    pv = qp["parameter_value_distributions"]
    assert len(pv) > 1
    assert list(pv) == [k for k in qp["most_common_parameters"] if k in pv]
    for vals in pv.values():
        assert list(vals) == sorted(vals, key=lambda v: (-vals[v], v))
    # the drill-down ranks value ties by first sighting (the reference's
    # Counter order), so only the count order is checked here
    for vals in ep["query_parameters"]["parameter_values"].values():
        counts = list(vals.values())
        assert counts == sorted(counts, reverse=True)
