"""Property-based parse robustness (SURVEY.md §5.5): for arbitrary lines the
parser never throws and exactly matches the reference parser."""

from __future__ import annotations

import importlib.util

import pytest
from hypothesis import given, settings, strategies as st

from test_parse_parity import FIELDS, _norm, ref_record

from python_fastly_log_query_spark.operators.parse import parse_log_line


def _load_ref():
    spec = importlib.util.spec_from_file_location(
        "ref_log_parser_prop", "/root/reference/src/parse/log_parser.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


try:
    REF = _load_ref()
except FileNotFoundError:
    pytest.skip("reference repo not available", allow_module_level=True)

# Mix of near-valid structured lines and pure noise.
line_fragments = st.sampled_from(
    [
        "<134>", "<9>", "2025-11-09T23:57:35Z", "2025-99-09T23:57:35Z",
        "cache-sjc-1", "proc[42]:", "10.0.0.1", "999.1.2.3",
        '"-"', '""', '"GET /a?b=c&d"', '"POST /x"', '"get /l"',
        "200", "404 12345", '"Mozilla/5.0 (fuzz) AppleWebKit"',
        '"short"', '"a string longer than twenty chars"',
        "hit", "miss", "pass", "synth", "error", "?", "&", "=", "\t",
    ]
)
structured = st.lists(line_fragments, min_size=0, max_size=12).map(" ".join)
noise = st.text(max_size=80)
lines = st.one_of(structured, noise)


@settings(max_examples=200, deadline=None)
@given(line=lines)
def test_fuzz_parity(line):
    expected = ref_record(REF, line)
    got = parse_log_line(line)
    if expected is None:
        assert got is None
        return
    assert got is not None, repr(line)
    got_full = {}
    for f in FIELDS:
        v = _norm(got.get(f))
        if f == "timestamp" and v is not None and not isinstance(v, str):
            v = v.isoformat()
        got_full[f] = v
    assert got_full == expected, repr(line)
