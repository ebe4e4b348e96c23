"""Aggregate parity vs the REFERENCE's own analyze functions (SURVEY.md
§5.2): run reference ``analyze_*`` (pure pandas, imported from
/root/reference) and our Spark report branches on the SAME fixture lines;
counts must match exactly, float rates/percentiles to a tolerance.

Fixture design keeps distinct-key counts below every top-N cut so pandas'
nondeterministic tie order never affects the compared maps (§2.6).
"""

from __future__ import annotations

import importlib.util
import math
import os

import pytest

from python_fastly_log_query_spark.operators import report as R
from python_fastly_log_query_spark.operators.parse import parse_logs

PATHS = [
    "/api/search", "/api/items", "/checkout", "/static/app.js", "/index.html",
]
UAS = [
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/118.0",
    "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0 Safari/537.36",
    "python-requests/2.31.0",
    "curl/8.4.0",
]
CACHES = ["hit", "hit", "miss", "pass"]
STATUS = [200, 200, 200, 301, 404, 500]


def fixture_lines(n: int = 240) -> list[str]:
    lines = []
    for i in range(n):
        ts = f"2025-11-0{1 + i % 2}T{i % 24:02d}:{(i * 7) % 60:02d}:{(i * 13) % 60:02d}Z"
        path = PATHS[i % len(PATHS)]
        q = ["", f"?page={i % 7}", f"?page={i % 7}&sort=asc", "?a=1&a=2&bare"][i % 4]
        line = (
            f"<13{i % 8}>{ts} cache-{'sjc' if i % 2 else 'lhr'} s3logsprod[{1000 + i}]: "
            f"10.0.{i % 4}.{i % 250} \"-\" \"-\" - \"GET {path}{q}\" {STATUS[i % 6]} "
            f"{100 + (i * 37) % 9000} \"-\" \"{UAS[i % 4]}\" {CACHES[i % 4]}"
        )
        lines.append(line)
    # a few malformed lines exercise the analytics' null tolerance
    lines += ["corrupt 10.9.9.9 ###", "<190>not a real line"]
    return lines


@pytest.fixture(scope="module")
def ref_analytics():
    path = "/root/reference/src/analyze/analytics.py"
    if not os.path.exists(path):
        pytest.skip("reference repo not available")
    spec = importlib.util.spec_from_file_location("ref_analytics", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def ref_entries(ref_parser):
    return [r for r in (ref_parser.parse_log_line(l) for l in fixture_lines()) if r]


@pytest.fixture(scope="module")
def ours(spark):
    lines = spark.createDataFrame([(l,) for l in fixture_lines()], "text string")
    return parse_logs(lines, "text").cache()


@pytest.fixture(scope="module")
def report(ours):
    return R.full_report(ours)


def _close(a: float, b: float, tol: float = 1e-6):
    assert math.isclose(float(a), float(b), rel_tol=tol, abs_tol=tol), (a, b)


def _topn_equal(got: dict, want: dict):
    """§2.6 top-N contract: pandas tie order at the cut is nondeterministic,
    so equality means (a) identical count multisets and (b) identical counts
    for every key both sides kept."""
    assert sorted(got.values(), reverse=True) == sorted(want.values(), reverse=True)
    for k in set(got) & set(want):
        assert got[k] == want[k], k


def test_traffic_parity(ref_analytics, ref_entries, report):
    want = ref_analytics.analyze_traffic_patterns(ref_entries)
    got = report["traffic"]
    assert got["total_requests"] == want["total_requests"]
    assert got["requests_per_hour"] == {str(k): int(v) for k, v in want["requests_per_hour"].items()}
    assert got["requests_per_day"] == want["requests_per_day"]
    assert got["popular_endpoints"] == want["popular_endpoints"]
    assert got["http_methods"] == want["http_methods"]


def test_errors_parity(ref_analytics, ref_entries, report):
    want = ref_analytics.analyze_errors(ref_entries)
    got = report["errors"]
    # reference: NaN statuses from malformed rows upcast the column to
    # float, so its keys render as '200.0'; normalize both to int
    assert {int(k): v for k, v in got["status_code_distribution"].items()} == {
        int(float(k)): v for k, v in want["status_code_distribution"].items()
    }
    for k in ("total_requests", "error_4xx_count", "error_5xx_count"):
        assert got[k] == want[k], k
    for k in ("error_4xx_rate", "error_5xx_rate", "total_error_rate"):
        _close(got[k], want[k])
    assert got["error_endpoints"] == want["error_endpoints"]


def test_performance_parity(ref_analytics, ref_entries, report):
    want = ref_analytics.analyze_performance(ref_entries)
    got = report["performance"]
    assert got["cache_statistics"] == want["cache_statistics"]
    _close(got["cache_hit_rate"], want["cache_hit_rate"])
    _close(got["cache_miss_rate"], want["cache_miss_rate"])
    w, g = want["response_size_statistics"], got["response_size_statistics"]
    _close(g["mean_size"], w["mean"])
    _close(g["median_size"], w["median"])  # exact percentile = pandas interpolation
    assert g["min_size"] == w["min"] and g["max_size"] == w["max"]
    _close(g["p95_size"], w["p95"])
    _close(g["p99_size"], w["p99"])
    ours_by_path = {r["path"]: r for r in got["top_endpoints_by_size"]}
    for path, spec in want["top_endpoints_by_size"].items():
        _close(ours_by_path[path]["mean_size"], spec["mean_size"], tol=1e-4)
        assert ours_by_path[path]["request_count"] == spec["request_count"]


def test_user_agents_parity(ref_analytics, ref_entries, report):
    want = ref_analytics.analyze_user_agents(ref_entries)
    got = report["user_agents"]
    assert got["top_user_agents"] == want["top_user_agents"]
    assert got["agent_type_distribution"] == want["agent_type_distribution"]


def test_query_patterns_parity(ref_analytics, ref_entries, report):
    want = ref_analytics.analyze_query_patterns(ref_entries)
    got = report["query_patterns"]
    assert got["most_common_parameters"] == want["most_common_parameters"]
    assert got["parameter_value_distributions"] == want["parameter_value_distributions"]
    _topn_equal(got["top_query_signatures"], want["top_query_signatures"])


@pytest.fixture(scope="module")
def ours_ordered(spark):
    """Fixture parse with a lineage order column so first-seen param
    ordering can mirror the reference's entry-iteration order."""
    lines = spark.createDataFrame(
        [(i, l) for i, l in enumerate(fixture_lines())], "line_number long, text string"
    )
    return parse_logs(lines, "text", passthrough=["line_number"]).cache()


def test_endpoint_parameter_values_parity(ref_analytics, ref_entries, ours_ordered):
    """VERDICT r1 missing item 2 (ref A:735-757): the endpoint drill-down's
    query_parameters.parameter_values — top-5 values for the first-5 params,
    where 'first' and count-tie order are the reference's dict/Counter
    insertion order, reproduced via min(line_number, param_position)."""
    want = ref_analytics.analyze_endpoint(ref_entries, "/api/search")
    got = R.endpoint_report(ours_ordered, "/api/search")
    wq, gq = want["query_parameters"], got["query_parameters"]
    assert gq["most_common"] == wq["most_common"]
    # exact nested equality including which values survived the top-5 cut
    assert gq["parameter_values"] == {
        p: {str(v): int(c) for v, c in vals.items()}
        for p, vals in wq["parameter_values"].items()
    }


# ------------------------------------------------------- sessionization


def _plain_sessions(spark, events):
    """Reference implementation: lag + running-sum gap sessionization
    (the ip_sessions oracle's shape) rolled up to per-session rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("ip_address").orderBy("timestamp", "event_id")
    prev = F.lag("timestamp").over(w)
    new_s = F.when(
        prev.isNull()
        | (F.col("timestamp").cast("long") - prev.cast("long") > 30 * 60),
        1,
    ).otherwise(0)
    ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = events.withColumn("_n", new_s).withColumn(
        "session_id", F.sum("_n").over(ws)
    )
    return sess.groupBy("ip_address", "session_id").agg(
        F.count(F.lit(1)).alias("hits"),
        (
            F.max("timestamp").cast("long") - F.min("timestamp").cast("long")
        ).alias("span_sec"),
    )


def _session_multiset(df):
    """Session ids are per-key ordinals with engine-dependent numbering;
    compare the per-key MULTISET of (hits, span) instead."""
    rows = df.collect()
    out = {}
    for r in rows:
        out.setdefault(r["ip_address"], []).append((r["hits"], r["span_sec"]))
    return {k: sorted(v) for k, v in out.items()}


def _with_null_keys(spark, events):
    """``events`` plus rows with a null ip or a null timestamp, which
    belong to no session."""
    from pyspark.sql import functions as F

    nulls = spark.createDataFrame(
        [(None, 1_700_000_000, -1), ("10.0.0.1", None, -2), (None, None, -3)],
        "ip_address string, epoch long, event_id long",
    )
    return events.unionByName(
        nulls.select(
            "ip_address", F.timestamp_seconds("epoch").alias("timestamp"), "event_id"
        )
    )


def test_session_rollup_equals_plain_on_skewed_profile(spark):
    """The one sessionizer (session_window with a 1800 s gap) must
    reproduce the lag + running-sum result exactly on a HOT-KEY profile
    (one IP carrying ~50% of events in a multi-day session, gaps of
    exactly 1800 and 1801 s, events at 4h edges) and drop rows with a
    null ip or timestamp."""
    from pyspark.sql import functions as F

    from python_fastly_log_query_spark.streaming.jobs import session_rollup

    base = 1_700_000_000
    rows = []
    eid = 0
    # hot IP: continuous activity every 20 min for 3 days → ONE session
    # crossing ~18 4h boundaries
    for i in range(3 * 24 * 3):
        rows.append(("10.0.0.1", base + i * 1200, eid)); eid += 1
    # hot IP again after a 31-min silence: a NEW session (gap just over)
    t = base + 3 * 24 * 3 * 1200 + 31 * 60
    for i in range(5):
        rows.append(("10.0.0.1", t + i * 60, eid)); eid += 1
    # session ending EXACTLY gap seconds before the next event (boundary:
    # > gap starts a session, == gap does not)
    rows.append(("10.0.0.2", base + 1000, eid)); eid += 1
    rows.append(("10.0.0.2", base + 1000 + 1800, eid)); eid += 1
    rows.append(("10.0.0.2", base + 1000 + 1800 + 1801, eid)); eid += 1
    # events exactly AT a 4h edge and 1s either side
    edge = base - base % (4 * 3600) + 8 * 3600
    for dt in (-1, 0, 1):
        rows.append(("10.0.0.3", edge + dt, eid)); eid += 1
    # cold tail: many single-event IPs
    for i in range(200):
        rows.append((f"10.9.{i // 256}.{i % 256}", base + i * 7919, eid)); eid += 1

    events = spark.createDataFrame(
        [(ip, ts, e) for ip, ts, e in rows], "ip_address string, epoch long, event_id long"
    ).select("ip_address", F.timestamp_seconds("epoch").alias("timestamp"), "event_id")

    got = _session_multiset(session_rollup(_with_null_keys(spark, events)))
    want = _session_multiset(_plain_sessions(spark, events))
    assert got == want
    assert None not in got
    # shape sanity: the hot IP's marathon session stays one session
    assert max(h for h, _ in got["10.0.0.1"]) == 3 * 24 * 3
    assert len(got["10.0.0.2"]) == 2
    assert len(got["10.0.0.3"]) == 1


def test_session_rollup_property(spark):
    """Property check over adversarial pseudo-random event sets: duplicate
    timestamps and gaps hugging the 30-min boundary (±1s) — session_rollup
    must equal the lag reference on every draw, with null-keyed rows
    dropped.  Deterministic derivation from the case index (no RNG state;
    a failure names its case)."""
    import hashlib

    from pyspark.sql import functions as F

    from python_fastly_log_query_spark.streaming.jobs import session_rollup

    def h(case, i, salt):
        return int.from_bytes(
            hashlib.md5(f"{case}:{i}:{salt}".encode()).digest()[:6], "big"
        )

    base = 1_700_000_000
    for case in range(6):
        rows, t = [], base + h(case, 0, "t0") % 3600
        n_ips = 1 + h(case, 0, "ips") % 4
        for i in range(120):
            ip = f"ip{h(case, i, 'ip') % n_ips}"
            step_kind = h(case, i, "k") % 6
            step = [0, 1, 1799, 1800, 1801, h(case, i, "s") % 9000][step_kind]
            t += step
            rows.append((ip, t, i))
        events = spark.createDataFrame(
            rows, "ip_address string, epoch long, event_id long"
        ).select(
            "ip_address", F.timestamp_seconds("epoch").alias("timestamp"), "event_id"
        )
        got = _session_multiset(session_rollup(_with_null_keys(spark, events)))
        want = _session_multiset(_plain_sessions(spark, events))
        assert got == want, f"case {case}"


def test_equidepth_histogram_exact_quartiles(spark):
    """equidepth_histogram (round 4): each bin holds ~n/buckets rows,
    breakpoints are exact order statistics (integer cross-multiply, no
    interpolation), duplicates never split across bins."""
    from pyspark.sql import functions as F

    from python_fastly_log_query_spark.operators.aggregates import (
        equidepth_histogram,
    )

    # 100 rows of values 1..100 -> quartile breaks exactly at 25/50/75
    df = spark.range(1, 101).select(F.col("id").alias("x"))
    out = {r["bucket"]: r for r in equidepth_histogram(df, "x", 4).collect()}
    assert [out[b]["n_rows"] for b in range(4)] == [25, 25, 25, 25]
    assert (out[0]["lo"], out[0]["hi"]) == (1, 25)
    assert (out[3]["lo"], out[3]["hi"]) == (76, 100)
    # a massive duplicate value stays in ONE bin (its whole count is at
    # one cumsum point)
    dup = spark.createDataFrame(
        [(7,)] * 90 + [(1,), (2,), (3,), (4,), (5,), (90,), (91,), (92,), (93,), (94,)],
        "x long",
    )
    rows = equidepth_histogram(dup, "x", 4).collect()
    seven = [r for r in rows if r["lo"] <= 7 <= r["hi"]]
    assert len(seven) == 1 and seven[0]["n_rows"] >= 90
