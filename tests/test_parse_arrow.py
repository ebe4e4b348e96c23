"""The Arrow parse core (``operators.parse.parse_lines``) without Spark:

- column by column it returns what the pandas batch parser it replaced
  (tests/parse_reference.py) returns, on the fixture lines, on 20k
  seeded lines at two seeds and on the ``text`` column of the sf0.001
  documents table;
- an integer that does not fit its Spark column reads NULL, where the
  pandas parser wrapped it; the largest value that fits survives;
- ``columns=`` pruning builds the same arrays as the full parse;
- timestamps read as the reference's ``datetime.strptime`` reads them.
"""

from __future__ import annotations

import os
import sys
from datetime import datetime, timezone

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import parse_reference  # noqa: E402
from conftest import FIXTURE_LINES, TESTDATA  # noqa: E402
from test_parse_golden import seeded_lines  # noqa: E402

from python_fastly_log_query_spark.operators import parse  # noqa: E402

INT_BITS = {"priority": 32, "pid": 32, "status_code": 32, "response_size": 64}


def _documents() -> list[str | None]:
    path = os.path.join(TESTDATA, "sf0.001", "documents.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{path} not available")
    return pq.read_table(path, columns=["text"]).column("text").to_pylist()


CORPORA = {
    "fixture_lines": lambda: FIXTURE_LINES,
    "seeded_7": lambda: seeded_lines(20_000, 7),
    "seeded_99": lambda: seeded_lines(20_000, 99),
    "sf0.001_documents": _documents,
}


def _raw_ints(lines: list[str | None]):
    """(field, value) of every integer the patterns capture, unbounded."""
    for line in lines:
        s = line.strip() if line else line
        if not s:
            continue
        m = parse.FAST_PATTERN.match(s)
        row = dict(zip(parse._SLOTS, m.groups() if m else parse._fallback(s)))
        for field in INT_BITS:
            if row[field] is not None:
                yield field, int(row[field])


@pytest.mark.parametrize("corpus", sorted(CORPORA))
def test_core_equals_pandas_parser(corpus):
    lines = CORPORA[corpus]()
    # the parsers are meant to differ on an out-of-range integer (and on
    # the timestamp and digit cases tests/parse_reference.py names)
    wide = [(f, v) for f, v in _raw_ints(lines)
            if not -(2 ** (INT_BITS[f] - 1)) <= v < 2 ** (INT_BITS[f] - 1)]
    assert not wide, wide[:5]

    cols, keep = parse.parse_lines(lines)
    ref = parse_reference.parse_lines_pdf(pd.Series(lines, dtype=object))
    assert keep == ref.pop("_keep").tolist()
    schema = pa.schema([(c, cols[c].type) for c in parse.PARSED_ORDER])
    want = pa.Table.from_pandas(ref[parse.PARSED_ORDER], schema=schema, preserve_index=False)
    assert list(cols) == parse.PARSED_ORDER
    for c in parse.PARSED_ORDER:
        assert cols[c].equals(want.column(c).combine_chunks()), c


_FAST = ('<{priority}>2025-11-09T23:57:36Z cache-sjc-2 s3logsprod[{pid}]: 10.1.2.3 "-" "-" - '
         '"GET /static/app.js" {status_code} {response_size} "-" "curl/8.0.1" miss')
# lower-case method: the full pattern misses, the per-field probes read
# priority, pid and the size after the 3-digit status
_FALLBACK = ('<{priority}>2025-11-09T23:57:36Z cache-sjc-2 s3logsprod[{pid}]: 10.1.2.3 "-" "-" - '
             '"get /static/app.js" 200 {response_size} "-" "curl/8.0.1" miss')
_FIT = {"priority": 134, "pid": 1, "status_code": 200, "response_size": 512}


_CASES = [
    ("priority", "2147483648", None),
    ("priority", "99999999999", None),
    ("priority", "2147483647", 2147483647),
    ("priority", "0002147483647", 2147483647),
    ("pid", "2147483648", None),
    ("pid", "2147483647", 2147483647),
    ("status_code", "2147483648", None),
    ("status_code", "2147483647", 2147483647),
    ("response_size", "9223372036854775808", None),
    ("response_size", "9223372036854775807", 9223372036854775807),
]


# the fallback status probe reads three digits only
@pytest.mark.parametrize("template,field,text,want", [
    pytest.param(t, *case, id=f"{name}-{case[0]}-{case[1]}")
    for name, t in (("fast", _FAST), ("fallback", _FALLBACK)) for case in _CASES
    if t is _FAST or case[0] != "status_code"
])
def test_out_of_range_integer_is_null(template, field, text, want):
    line = template.format(**{**_FIT, field: text})
    assert bool(parse.FAST_PATTERN.match(line)) == (template is _FAST)
    cols, keep = parse.parse_lines([line])
    assert keep == [True]
    assert {f: cols[f][0].as_py() for f in INT_BITS} == {**_FIT, field: want}


def test_pruned_columns_equal_full_parse():
    lines = FIXTURE_LINES + seeded_lines(2_000, 7)
    full, keep = parse.parse_lines(lines)
    for want in (["timestamp", "status_code"], ["query_params", "cache_status"], []):
        cols, pkeep = parse.parse_lines(lines, columns=want)
        assert pkeep == keep
        assert list(cols) == [c for c in parse.PARSED_ORDER if c in want]
        assert all(cols[c].equals(full[c]) for c in want)


@pytest.mark.parametrize("ts", [
    "2025-11-09T23:57:35Z", "2024-02-29T00:00:00Z", "2025-02-29T00:00:00Z",
    "2025-01-01T00:00:60Z", "2025-00-01T00:00:00Z", "0000-01-01T00:00:00Z",
    "1000-01-01T00:00:00Z", "9999-12-31T23:59:59Z", "٢٠٢٥-01-01T00:00:00Z",
    "2025-01-01T24:00:00Z", "2025-01-01T00:00:61Z",
])
def test_timestamp_reads_as_strptime(ts):
    try:
        want = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc)
    except ValueError:
        want = None
    for line in (_FAST.format(**_FIT).replace("2025-11-09T23:57:36Z", ts), f"at {ts} only"):
        cols, _ = parse.parse_lines([line])
        assert cols["timestamp"][0].as_py() == want, line
