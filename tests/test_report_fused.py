"""The fused report (seven queries) and the endpoint drill-down built from
three of them equal, byte for byte in JSON, the reports composed one
aggregates.py leaf per Spark action (tests/report_reference.py), on the
sf fixture, on an edge fixture built to hit every null filter, tie and
gap, and on an empty frame."""

from __future__ import annotations

import datetime
import json

import pytest

from python_fastly_log_query_spark import oracle_corpus as oc
from python_fastly_log_query_spark.operators import aggregates as A
from python_fastly_log_query_spark.operators import report as R

from conftest import SF_SMALL
from report_reference import reference_endpoint_report, reference_report

SCHEMA = (
    "timestamp timestamp, ip_address string, http_method string, path string, "
    "query_params map<string,string>, status_code int, response_size long, "
    "user_agent string, cache_status string"
)
# 26 paths and 26 agents; non-ASCII paths include a code point above the
# BMP and one just below it, whose order differs between UTF-16 and code
# points
PATHS = [f"/p{i:02d}" for i in range(21)] + [
    "/päth", "/日本", "/Ａ", "/\U0001d11e", "/nocache",
]
UAS = [f"agent/{i}" for i in range(21)] + [
    "Mozilla/5.0 Firefox/118.0", "curl/8.4.0", "python-requests/2.31", "Ünïcode/1", "",
]
STATUS = [200, 404, 500, 301, 503, None, 418, 600, 200, 302, 401]
CACHE = ["hit", "miss", "pass", None, "hit", "miss"]
SIZES = [1000, 3000, None, 1000, 3000, 50_000, 0]
BASE = datetime.datetime(2025, 11, 1, 22, 50)


def _params(i: int):
    if i % 11 == 0:
        return None
    if i % 9 == 0:
        return {}
    params = {f"k{(i + j) % 23}": f"v{(i * j) % 13}" for j in range(1 + i % 8)}
    if i % 31 == 0:
        params["bare"] = None
    return params


def edge_rows() -> list[tuple]:
    """70 rows per path.  Path i and agent i share their rows, and a
    row's size depends only on its block of 26 rows, so paths (and
    agents) tie on means: one block gives paths 0-12 an outlier each,
    about 1% of the sized rows, above the p99 threshold."""
    rows = []
    for i in range(26 * 70):
        k, block = i % 26, i // 26
        minute = i // 12
        # no rows in minutes 40-54: three empty 5-minute buckets
        ts = None if i % 17 == 0 or 40 <= minute < 55 else BASE + datetime.timedelta(
            minutes=minute, seconds=(i * 7) % 60)
        size = 10**6 if block == 3 and k < 13 else SIZES[block % len(SIZES)]
        rows.append((
            ts, f"10.0.{i % 3}.{i % 23}", ["GET", "POST", None, "PUT"][i % 4], PATHS[k],
            _params(i), STATUS[i % len(STATUS)], size,
            None if i % 13 == 0 else UAS[k],
            None if PATHS[k] == "/nocache" else CACHE[i % len(CACHE)],
        ))
    # rows without a path; one IP whose agents are all null; an all-null row
    for i in range(60):
        ts = BASE + datetime.timedelta(minutes=i % 40, seconds=30) if i % 4 else None
        rows.append((
            ts, "10.9.9.9" if i < 40 else None, "GET" if i % 2 else None, None,
            _params(i + 1), STATUS[i % len(STATUS)], SIZES[i % len(SIZES)],
            None if i < 40 else UAS[i % 26], CACHE[i % len(CACHE)],
        ))
    rows.append((None,) * 9)
    # eleven IPs with two requests a second apart tie on request rate
    for j in range(11):
        for sec in (0, 1):
            ts = BASE + datetime.timedelta(minutes=j, seconds=sec)
            rows.append((ts, f"10.8.0.{j}") + (None,) * 7)
    # a later day whose 5-minute buckets alternate 10 and 20 rows: seven
    # +100% spikes tie; its first row ties the 10th and 11th parameters
    day = datetime.datetime(2025, 11, 3)
    for b in range(14):
        for r in range(20 if b % 2 else 10):
            ts = day + datetime.timedelta(minutes=5 * b, seconds=r)
            params = {"k20": "v1"} if b == r == 0 else None
            rows.append((ts, None, None, None, params) + (None,) * 4)
    return rows


@pytest.fixture(scope="module")
def frames(spark):
    out = {
        "sf": oc.parsed_events(spark, SF_SMALL),
        "edge": spark.createDataFrame(edge_rows(), SCHEMA),
        "empty": spark.createDataFrame([], SCHEMA),
    }
    for df in out.values():
        df.cache().count()
    yield out
    for df in out.values():
        df.unpersist()


@pytest.mark.parametrize("name", ["sf", "edge", "empty"])
def test_fused_report_equals_the_per_leaf_report(frames, name):
    df = frames[name]
    got, want = R.full_report(df), reference_report(df)
    for branch, leaves in want.items():
        for leaf, value in leaves.items():
            assert json.dumps(got[branch].get(leaf)) == json.dumps(value), leaf
    assert json.dumps(got) == json.dumps(want)


# /api/purchase has rows only in sf, whose event_id orders the parameter
# values by first sight; /päth only in edge, which has no lineage column
@pytest.mark.parametrize("endpoint", ["busiest", "/api/purchase", "/päth", "/absent"])
@pytest.mark.parametrize("name", ["sf", "edge", "empty"])
def test_endpoint_report_equals_the_per_leaf_report(frames, name, endpoint):
    df = frames[name]
    if endpoint == "busiest":
        top = A.popular_endpoints(df, 1).collect()
        endpoint = top[0]["path"] if top else "/"
    got, want = R.endpoint_report(df, endpoint), reference_endpoint_report(df, endpoint)
    for leaf, value in want.items():
        assert json.dumps(got.get(leaf)) == json.dumps(value), leaf
    assert json.dumps(got) == json.dumps(want)


# (leaf, its aggregates.py function, the cut, the ranked metric)
CUTS = [
    ("popular_endpoints", A.popular_endpoints, 20, "requests"),
    ("error_endpoints", A.error_endpoints, 10, "errors"),
    ("top_endpoints_by_size", A.top_endpoints_by_size, 10, "mean_size"),
    ("large_response_endpoints", A.large_response_endpoints, 20, "mean_size"),
    ("high_cache_miss_endpoints", A.high_cache_miss_endpoints, 20, "miss_rate"),
    ("outlier_large_responses", A.outlier_large_responses, 10, "outliers"),
    ("high_error_rate_endpoints", A.high_error_rate_endpoints, 20, "error_rate"),
    ("complex_query_endpoints", A.complex_query_endpoints, 20, "avg_params"),
    ("top_request_ips", A.top_request_ips, 20, "requests"),
    ("top_ips_by_request_rate", A.top_ips_by_request_rate, 10, "requests_per_minute"),
    ("top_user_agents", A.top_user_agents, 20, "requests"),
    ("user_agent_response_sizes", A.user_agent_response_sizes, 10, "mean_size"),
    ("most_common_parameters", A.most_common_parameters, 20, "occurrences"),
    ("top_query_signatures", A.top_query_signatures, 20, "requests"),
    ("largest_traffic_spikes", A.largest_traffic_spikes, 5, "rate_change_pct"),
]


@pytest.mark.parametrize("leaf,fn,n,metric", CUTS, ids=[c[0] for c in CUTS])
def test_edge_fixture_ties_at_every_cut(frames, leaf, fn, n, metric):
    """The keys ranked n and n+1 tie on the metric, so only the key
    order decides which one the leaf keeps."""
    ranked = [abs(r[metric]) for r in fn(frames["edge"], n=n + 1).collect()]
    assert len(ranked) == n + 1 and ranked[n - 1] == ranked[n]


def test_edge_fixture_reaches_its_cases(frames):
    """The edge fixture keeps the other cases it is for."""
    rep = reference_report(frames["edge"])
    s = rep["slowness_investigation"]
    assert "/nocache" in rep["traffic"]["popular_endpoints"]
    assert "/nocache" not in s["high_cache_miss_endpoints"]
    ips = {r["ip_address"]: r for r in s["top_request_ips_with_ua"]}
    assert ips["10.9.9.9"]["top_user_agent"] == "Unknown"
    # the parameter-value cut: the 10th and 11th parameters tie
    counts = list(rep["query_patterns"]["most_common_parameters"].values())
    assert counts[9] == counts[10]
    assert any(len(v) == 10 for v in rep["query_patterns"]["parameter_value_distributions"].values())
    # empty 5-minute buckets between two with rows
    buckets = {r["bucket"] for r in A.requests_per_5min(frames["edge"]).collect()}
    assert {"2025-11-01 23:25:00", "2025-11-01 23:45:00"} <= buckets
    assert not {"2025-11-01 23:30:00", "2025-11-01 23:35:00", "2025-11-01 23:40:00"} & buckets

