"""Golden parse parity: our vectorized parser vs the reference's
``parse_log_line`` executed directly (SURVEY.md §5.1)."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from conftest import FIXTURE_LINES

from python_fastly_log_query_spark.operators.parse import (
    parse_lines_pdf,
    parse_log_line,
    parse_logs,
)

FIELDS = [
    "raw_line", "priority", "timestamp", "cache_server", "process", "pid",
    "ip_address", "referrer1", "referrer2", "date_string", "http_method",
    "path", "query_string", "query_params", "status_code", "response_size",
    "referrer", "user_agent", "cache_status",
]


def _norm(v):
    """absent key ≡ None ≡ NaN ≡ NaT; ints comparable across int/Int64."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is pd.NaT or v is pd.NA:
        return None
    return v


def ref_record(ref_parser, line):
    rec = ref_parser.parse_log_line(line)
    if rec is None:
        return None
    return {f: _norm(rec.get(f)) for f in FIELDS}


@pytest.mark.parametrize("idx", range(len(FIXTURE_LINES)))
def test_line_parity(ref_parser, idx):
    line = FIXTURE_LINES[idx]
    expected = ref_record(ref_parser, line)
    got = parse_log_line(line)
    if expected is None:
        assert got is None
        return
    assert got is not None
    got_full = {f: _norm(got.get(f)) for f in FIELDS}
    assert got_full == expected, f"line {idx}: {line!r}"


def test_batch_equals_scalar():
    """Batch-vectorized output must equal line-at-a-time output."""
    pdf = parse_lines_pdf(pd.Series(FIXTURE_LINES))
    kept = pdf[pdf["_keep"]]
    singles = [parse_log_line(l) for l in FIXTURE_LINES]
    singles = [s for s in singles if s is not None]
    assert len(kept) == len(singles)
    for (_, row), single in zip(kept.iterrows(), singles):
        for f in FIELDS:
            rv = _norm(row[f])
            if f == "timestamp" and rv is not None:
                rv = rv.isoformat()
            assert _norm(single.get(f)) == rv, (f, row["raw_line"])


def test_spark_parse_end_to_end(spark, ref_parser):
    """Full Spark ``mapInArrow`` stage vs reference goldens, incl. the
    byte-identical raw text per url invariant."""
    rows = [(f"https://example.org/doc/{i}", line) for i, line in enumerate(FIXTURE_LINES)]
    df = spark.createDataFrame(rows, "url string, text string")
    out = parse_logs(df, line_col="text", passthrough=["url"]).collect()

    expected = {}
    for i, line in enumerate(FIXTURE_LINES):
        rec = ref_record(ref_parser, line)
        if rec is not None:
            expected[f"https://example.org/doc/{i}"] = rec

    assert {r["url"] for r in out} == set(expected)
    for r in out:
        exp = expected[r["url"]]
        for f in FIELDS:
            got = _norm(r[f])
            want = exp[f]
            if f == "timestamp" and got is not None:
                got = got.isoformat()
            assert got == want, (r["url"], f, got, want)
        # byte-identical extracted text per url (BASELINE.json input_hint):
        # raw_line must be exactly the reference's stripped line
        assert r["raw_line"] == exp["raw_line"]


def test_blank_lines_dropped(spark):
    df = spark.createDataFrame([("", ), ("   ",), ("x 404 999 y",)], "text string")
    out = parse_logs(df, line_col="text").collect()
    assert len(out) == 1 and out[0]["raw_line"] == "x 404 999 y"
