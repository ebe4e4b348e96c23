"""Grok parser for Fastly-style syslog lines.

Implements the exact parse semantics of the reference parser
(reference src/parse/log_parser.py:20-186) as ONE Arrow-batched
``mapInArrow`` stage: one Python call per Arrow batch, which runs
Python ``re`` over the batch's lines and builds each output column
directly as an Arrow array — no per-row Python UDFs and no pandas frame.
Python ``re`` is kept deliberately (never translated to Java regex) so
extraction is byte-identical with the reference (SURVEY.md §7 "What's
hard").

Semantics contract (all verified by golden-parity tests against the
reference's own ``parse_log_line``):

- strict 16-group full-line pattern, anchored ``match`` (ref :20-35, :72);
  on match ALL fields come from the fast path;
- otherwise independent per-field fallback probes (ref :111-186);
- empty regex groups become NULL (``safe_get`` falsiness, ref :45-50);
- ``safe_int`` → NULL on invalid (ref :38-43), and NULL on a value that
  does not fit its column (IntegerType for priority/pid/status_code,
  LongType for response_size) instead of a wrapped number;
- timestamps parse strictly as ``%Y-%m-%dT%H:%M:%SZ`` with
  ``datetime.strptime``'s semantics → UTC (ref :76-82, :113-119);
- ``path``/``query_string`` split on first ``?``; query params split on
  ``&``, only ``key=value`` pairs kept (bare keys dropped from the map but
  kept in ``query_string``), value split on FIRST ``=``, duplicate keys:
  last wins (ref :92-102);
- fallback UA requires the substring ``Mozilla`` (ref :161-168); fallback
  cache-status is an end-anchored enum (ref :171-173); fallback status is
  the first space-delimited 3-digit number (ref :151-153) and size the
  number right after it (ref :156-158);
- blank lines produce no output row (ref :64-66).

At 100 TB scale this stage is embarrassingly parallel (no shuffle): each
input partition flows through Arrow batches; column pruning upstream means
only the line column (+ requested passthroughs) is ever transferred.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from datetime import datetime, timedelta
from typing import TYPE_CHECKING

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..schema import PARSED_FIELDS

if TYPE_CHECKING:
    import pandas as pd

# The Fastly syslog line format (documented at reference README.md:235-243):
# <priority>timestamp cache-server process[pid]: IP "-" "-" date
#   "METHOD path" status size "-" "user-agent" cache-status
# 16 capture groups, same group order as the reference pattern
# (reference src/parse/log_parser.py:20-35), as (field, piece) segments
# with exactly one capture group each: a match's ``groups()`` is one
# value per field, in this order.
_LINE_SEGMENTS: list[tuple[str, str]] = [
    ("priority", r"<(\d+)>"),
    ("timestamp", r"(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z)"),
    ("cache_server", r"\s+(\S+)"),
    ("process", r"\s+(\S+)"),
    ("pid", r"\[(\d+)\]:"),
    ("ip_address", r"\s+(\S+)"),
    ("referrer1", r'\s+"([^"]*)"'),
    ("referrer2", r'\s+"([^"]*)"'),
    ("date_string", r'\s+([^"]+?)(?=\s+")'),
    ("http_method", r'\s+"([A-Z]+)'),
    ("_full_path", r'\s+([^"]+)"'),
    ("status_code", r"\s+(\d+)"),
    ("response_size", r"\s+(\d+)"),
    ("referrer", r'\s+"([^"]*)"'),
    ("user_agent", r'\s+"([^"]*)"'),
    ("cache_status", r"\s+(\S+)"),
]

FAST_PATTERN = re.compile(r"\A" + "".join(piece for _, piece in _LINE_SEGMENTS))

# Fallback per-field probes (reference src/parse/log_parser.py:111-186).
P_TIMESTAMP = re.compile(r"(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z)")
P_PRIORITY = re.compile(r"<(\d+)>")
P_IP = re.compile(r"\b(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3})\b")
P_HTTP = re.compile(r'"([A-Z]+)\s+([^"]+)"')
P_STATUS = re.compile(r"\s(\d{3})\s")
P_SIZE = re.compile(r"\s(\d{3})\s+(\d+)\s")
P_UA_MOZILLA = re.compile(r'"([^"]*Mozilla[^"]*)"')
P_UA_LONG = re.compile(r'"([^"]{20,})"')
P_CACHE = re.compile(r"\s(hit|miss|pass|error|synth)\s*$")
P_SERVER = re.compile(r"cache-([^\s]+)")
P_PROCESS = re.compile(r"(\S+)\[(\d+)\]:")

_TS_FORMAT = "%Y-%m-%dT%H:%M:%SZ"
_EPOCH = datetime(1970, 1, 1)
_US = timedelta(microseconds=1)

PARSED_ORDER = [f.name for f in PARSED_FIELDS]
# the 16 fields the full-line pattern captures, in group order
_SLOTS = [field for field, _ in _LINE_SEGMENTS]
_BLANK = (None,) * len(_SLOTS)
_PATH_COLS = ("path", "query_string", "query_params")
_NO_PATH = (None, None, None)
# the Arrow type Spark reads back for each parsed field
_ARROW_TYPES = {f.name: to_arrow_type(f.dataType) for f in PARSED_FIELDS}


def _fallback(s: str) -> tuple:
    """A line the fast pattern misses: each field from its own probe, in
    the fast path's 16 slots (None where no probe exists or none hit)."""
    ts = P_TIMESTAMP.search(s)
    priority = P_PRIORITY.search(s)
    ip = P_IP.search(s)
    http = P_HTTP.search(s)
    status = P_STATUS.search(s)
    size = P_SIZE.search(s)
    ua = P_UA_MOZILLA.search(s)
    if ua is None:
        ua = P_UA_LONG.search(s)
        if ua and "Mozilla" not in ua[1]:
            ua = None
    cache = P_CACHE.search(s)
    server = P_SERVER.search(s)
    proc = P_PROCESS.search(s)
    return (
        priority and priority[1], ts and ts[1], server and "cache-" + server[1],
        proc and proc[1], proc and proc[2], ip and ip[1], None, None, None,
        http and http[1], http and http[2], status and status[1], size and size[2],
        None, ua and ua[1], cache and cache[1],
    )


def _split_query(full_path: str) -> tuple[str, str | None, list[tuple[str, str]]]:
    """path / query_string / params split (reference src/parse/log_parser.py:92-102).

    params are ``(key, value)`` pairs in dict order — [] when the path
    carried no query string, mirroring the reference's ``{}``.
    """
    path, sep, qs = full_path.partition("?")
    params: dict[str, str] = {}
    for param in qs.split("&") if qs else ():
        key, eq, value = param.partition("=")
        if eq:
            params[key] = value
    return path, qs if sep else None, list(params.items())


def _safe_int(s: str | None, hi: int) -> int | None:
    """``safe_int`` (ref :38-43), NULL too when outside [-hi-1, hi]."""
    try:
        v = int(s)
    except (TypeError, ValueError):  # absent, or past int()'s digit limit
        return None
    return v if -hi - 1 <= v <= hi else None


def _timestamp(s: str) -> int | None:
    """Strict ``%Y-%m-%dT%H:%M:%SZ`` → UTC microseconds (ref :76-82).  Both
    patterns give the string that exact shape, so an ASCII one with an
    hour below 24 reads the same through the C ``fromisoformat`` as
    through ``strptime``, which takes the rest: Unicode digits, which only
    it accepts, and hour 24, which it rejects but newer ``fromisoformat``
    reads as the next day's midnight."""
    try:
        dt = (datetime.fromisoformat(s[:-1]) if s.isascii() and s[11:13] < "24"
              else datetime.strptime(s, _TS_FORMAT))
    except ValueError:
        return None
    return (dt - _EPOCH) // _US


def _column(col: str, vals: tuple | list) -> pa.Array:
    typ = _ARROW_TYPES[col]
    if pa.types.is_integer(typ):
        hi = (1 << (typ.bit_width - 1)) - 1
        vals = [_safe_int(s, hi) for s in vals]
    elif pa.types.is_timestamp(typ):
        vals = [_timestamp(s) if s else None for s in vals]
    elif col in _SLOTS:  # reference ``safe_get``: '' is absent
        vals = [s or None for s in vals]
    return pa.array(vals, typ)


def parse_lines(
    lines: list[str | None], columns: list[str] | None = None
) -> tuple[dict[str, pa.Array], list[bool]]:
    """Parse one batch of raw lines into one Arrow array per parsed field.

    Returns ``{field: array}`` in the canonical record order, each array
    as long as ``lines``, and a keep mask that is False for a null or
    blank (after ``strip``) line, whose row the caller drops.

    ``columns`` restricts which fields are built (manual column pruning
    through the UDF boundary — Catalyst cannot push a projection into
    ``mapInArrow``, so the operator does it itself); the path/query split
    runs only when a path field is wanted.
    """
    want = [c for c in PARSED_ORDER if columns is None or c in columns]
    raw = [ln.strip() if ln else ln for ln in lines]
    match = FAST_PATTERN.match
    rows = [(m.groups() if (m := match(s)) else _fallback(s)) if s else _BLANK
            for s in raw]
    cols = dict(zip(_SLOTS, zip(*rows))) if rows else dict.fromkeys(_SLOTS, ())
    cols["raw_line"] = raw
    if not set(want).isdisjoint(_PATH_COLS):
        split = [_split_query(fp) if fp else _NO_PATH for fp in cols["_full_path"]]
        cols.update(zip(_PATH_COLS, zip(*split)) if split else dict.fromkeys(_PATH_COLS, ()))
    return {c: _column(c, cols[c]) for c in want}, [bool(s) for s in raw]


def parse_lines_pdf(lines: pd.Series) -> pd.DataFrame:
    """:func:`parse_lines` as a pandas frame on ``lines``' index, blank rows
    kept with ``_keep`` False (tests and the benchmark's tally check):
    nullable Int32/Int64 integers, naive UTC timestamps, dict params.
    pandas is imported here only: the parse stage itself never needs it."""
    import pandas as pd

    s = lines.astype("string")
    cols, keep = parse_lines(s.astype(object).where(s.notna(), None).tolist())
    out = pa.table(cols).to_pandas(
        types_mapper={pa.int32(): pd.Int32Dtype(), pa.int64(): pd.Int64Dtype()}.get,
        maps_as_pydicts="strict",
    )
    out["timestamp"] = out["timestamp"].dt.tz_localize(None)
    out.index = lines.index
    out["_keep"] = keep
    return out


def parse_logs(
    df: DataFrame,
    line_col: str = "text",
    passthrough: list[str] | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Parse ``df[line_col]`` into the parsed-record schema through ONE
    Arrow-batched ``mapInArrow`` stage over :func:`parse_lines`.

    ``passthrough`` columns (e.g. url, warc_ts, lang) are carried alongside
    the parsed fields as the Arrow arrays they arrived in, filtered with
    the keep mask.  Upstream column pruning applies: only
    ``passthrough + [line_col]`` is read from the source.

    ``columns`` prunes the parsed output to the named fields (order follows
    the canonical record order).  Catalyst cannot push a projection through
    ``mapInArrow``, so callers that need a few fields should prune here —
    at 100 TB the Arrow transfer of unused fields (``raw_line`` alone
    doubles the bytes) is the difference between a parse-bound and an
    IO-bound stage.

    BINARY input (the ``html`` byte column of the web-pages table) is
    accepted directly: bytes decode to UTF-8 JVM-side (vectorized
    ``decode``, inside whole-stage codegen) before crossing the Arrow
    boundary, so the Python stage always sees strings and the parse is
    byte-identical whichever column carried the payload.
    """
    passthrough = passthrough or []
    if dict(df.dtypes).get(line_col) == "binary":
        df = df.withColumn(line_col, F.decode(F.col(line_col), "UTF-8"))
    in_schema = df.select(*passthrough, line_col).schema
    fields = {f.name: f for f in PARSED_FIELDS}
    # the fields parse_lines builds for ``columns``, in the order it builds them
    out_schema = T.StructType(
        [in_schema[c] for c in passthrough]
        + [fields[c] for c in parse_lines([], columns)[0]]
    )

    def _iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            lines = batch.column(line_col).to_numpy(zero_copy_only=False).tolist()
            parsed, keep = parse_lines(lines, columns)
            out = pa.RecordBatch.from_arrays(
                [batch.column(c) for c in passthrough] + list(parsed.values()),
                names=out_schema.names,
            )
            yield out if all(keep) else out.filter(pa.array(keep))

    return df.select(*passthrough, line_col).mapInArrow(_iter, schema=out_schema)


def parse_log_line(line: str) -> dict | None:
    """Single-line convenience wrapper (test/debug parity helper).

    Returns a dict shaped like the reference's ``parse_log_line`` output:
    absent fields are missing keys, except explicit-None cases.
    """
    import pandas as pd

    return row_record(parse_lines_pdf(pd.Series([line])).iloc[0])


def row_record(row: pd.Series) -> dict | None:
    """One ``parse_lines_pdf`` row in :func:`parse_log_line`'s shape (None
    for a dropped blank line)."""
    import pandas as pd

    if not bool(row["_keep"]):
        return None
    out = {}
    for k, v in row.drop(labels=["_keep"]).items():
        if v is None or v is pd.NaT or v is pd.NA:
            continue
        if k in ("priority", "pid", "status_code", "response_size"):
            v = int(v)
        if k == "timestamp":
            v = v.isoformat()
        out[k] = v
    return out
