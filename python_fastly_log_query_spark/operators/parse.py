"""Vectorized grok parser for Fastly-style syslog lines.

Implements the exact parse semantics of the reference parser
(reference src/parse/log_parser.py:20-186) as ONE Arrow-batched
``mapInPandas`` stage — no per-row Python UDFs.  Python ``re`` is kept
deliberately (never translated to Java regex) so extraction is
byte-identical with the reference (SURVEY.md §7 "What's hard").

Semantics contract (all verified by golden-parity tests against the
reference's own ``parse_log_line``):

- strict 16-group full-line pattern, anchored ``match`` (ref :20-35, :72);
  on match ALL fields come from the fast path;
- otherwise independent per-field fallback probes (ref :111-186);
- empty regex groups become NULL (``safe_get`` falsiness, ref :45-50);
- ``safe_int`` → NULL on invalid (ref :38-43);
- timestamps parse strictly as ``%Y-%m-%dT%H:%M:%SZ`` → naive UTC
  (ref :76-82, :113-119);
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
from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import PARSED_FIELDS, parsed_schema_with

# The Fastly syslog line format (documented at reference README.md:235-243):
# <priority>timestamp cache-server process[pid]: IP "-" "-" date
#   "METHOD path" status size "-" "user-agent" cache-status
# 16 capture groups, same group order as the reference pattern
# (reference src/parse/log_parser.py:20-35), expressed as (field, piece)
# segments with exactly one capture group each so that column pruning can
# demote unneeded groups to non-capturing (identical match semantics,
# far fewer Python string allocations in the hot path).
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

_FULL_LINE = "".join(piece for _, piece in _LINE_SEGMENTS)

# .match() anchoring for use with Series.str.extract (which uses search).
FAST_PATTERN = re.compile(r"\A" + _FULL_LINE)


def _pruned_fast_pattern(fields: frozenset) -> tuple[re.Pattern, dict[str, int]]:
    """Compile the full-line pattern with only ``fields`` capturing.

    Non-capturing groups match identically, so the fast/fallback split is
    byte-for-byte the same as the reference pattern — only the number of
    extracted (allocated) strings shrinks.  Returns the pattern and a
    field -> extract-column-index map.  Group 1 always captures so callers
    can test "did the fast path match" via extract column 0.
    """
    pieces, mapping, gi = [], {}, 0
    for idx, (field, piece) in enumerate(_LINE_SEGMENTS):
        if field in fields or idx == 0:
            mapping[field] = gi
            gi += 1
            pieces.append(piece)
        else:
            pieces.append(piece.replace("(", "(?:", 1).replace("(?:?=", "(?=", 1))
    return re.compile(r"\A" + "".join(pieces)), mapping

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


def _none_if_empty(s: pd.Series) -> pd.Series:
    """Reference ``safe_get`` treats '' as absent (src/parse/log_parser.py:45-50)."""
    return s.where(s.notna() & (s != ""), other=None)


def _safe_int(s: pd.Series) -> pd.Series:
    """Vectorized ``safe_int`` (reference src/parse/log_parser.py:38-43)."""
    return pd.to_numeric(_none_if_empty(s), errors="coerce").astype("Int64")


def _parse_ts(s: pd.Series) -> pd.Series:
    """Strict '%Y-%m-%dT%H:%M:%SZ' → naive UTC (ref :76-82)."""
    return pd.to_datetime(s, format=_TS_FORMAT, errors="coerce")


def _split_query(full_path: Optional[str]):
    """path / query_string / params split (reference src/parse/log_parser.py:92-102).

    Returns (path, query_string, params_dict) — params is {} when a path was
    extracted but carried no query string, mirroring the reference.
    """
    if full_path is None:
        return None, None, None
    parts = full_path.split("?", 1)
    path = parts[0]
    qs = parts[1] if len(parts) > 1 else None
    params: dict[str, str] = {}
    if qs:
        for param in qs.split("&"):
            if "=" in param:
                key, value = param.split("=", 1)
                params[key] = value
    return path, qs, params


# the fields the full-line pattern captures
_FAST_FIELDS = frozenset(field for field, _ in _LINE_SEGMENTS)
_INT_COLS = frozenset({"priority", "pid", "status_code", "response_size"})
_PATH_COLS = ("path", "query_string", "query_params")


def parse_lines_pdf(lines: pd.Series, columns: list[str] | None = None) -> pd.DataFrame:
    """Parse a batch of raw lines into the parsed-record frame.

    Pure pandas — reused by both the Spark mapInPandas stage and unit tests.
    Blank (post-strip) lines yield rows of all-NaN that the caller drops.

    ``columns`` restricts which parsed fields are materialized (manual
    column pruning through the UDF boundary — Catalyst cannot push a
    projection into ``mapInPandas``, so the operator does it itself).
    Field extraction semantics are unchanged; unneeded fallback probes and
    the path/query split are simply skipped.
    """
    want = set(columns) if columns is not None else set(
        [f.name for f in PARSED_FIELDS]
    )
    need_path = bool(want & set(_PATH_COLS))
    raw = lines.astype("string").str.strip()
    n = len(raw)
    out = pd.DataFrame(index=raw.index)
    if "raw_line" in want:
        out["raw_line"] = raw

    nonblank = (raw.notna() & (raw != "")).fillna(False).astype(bool)

    want_fields = want & _FAST_FIELDS
    if need_path:
        want_fields.add("_full_path")

    # ---- fast path: anchored full-line pattern (pruned capture set) ----
    pattern, groups = _pruned_fast_pattern(frozenset(want_fields))
    ext = raw.str.extract(pattern)
    fast = ext[0].notna() & nonblank
    slow = ~fast & nonblank

    for col in want_fields:
        out[col] = None

    if fast.any():
        for col in want_fields:
            g = groups[col]
            if col in _INT_COLS:
                out.loc[fast, col] = _safe_int(ext.loc[fast, g])
            elif col == "timestamp":
                out.loc[fast, col] = _parse_ts(_none_if_empty(ext.loc[fast, g]))
            else:
                out.loc[fast, col] = _none_if_empty(ext.loc[fast, g])

    # ---- fallback probes, each independent, only over non-matching rows ----
    if slow.any():
        sl = raw[slow]
        if "timestamp" in want_fields:
            out.loc[slow, "timestamp"] = _parse_ts(sl.str.extract(P_TIMESTAMP)[0])
        if "priority" in want_fields:
            out.loc[slow, "priority"] = _safe_int(sl.str.extract(P_PRIORITY)[0])
        if "ip_address" in want_fields:
            out.loc[slow, "ip_address"] = _none_if_empty(sl.str.extract(P_IP)[0])

        if "http_method" in want_fields or "_full_path" in want_fields:
            http = sl.str.extract(P_HTTP)
            if "http_method" in want_fields:
                out.loc[slow, "http_method"] = _none_if_empty(http[0])
            if "_full_path" in want_fields:
                out.loc[slow, "_full_path"] = http[1].where(http[0].notna(), other=None)

        if "status_code" in want_fields:
            out.loc[slow, "status_code"] = _safe_int(sl.str.extract(P_STATUS)[0])
        if "response_size" in want_fields:
            out.loc[slow, "response_size"] = _safe_int(sl.str.extract(P_SIZE)[1])

        if "user_agent" in want_fields:
            ua1 = sl.str.extract(P_UA_MOZILLA)[0]
            ua2 = sl.str.extract(P_UA_LONG)[0]
            ua2 = ua2.where(ua2.notna() & ua2.str.contains("Mozilla", regex=False), other=None)
            out.loc[slow, "user_agent"] = ua1.fillna(ua2)

        if "cache_status" in want_fields:
            out.loc[slow, "cache_status"] = _none_if_empty(sl.str.extract(P_CACHE)[0])
        if "cache_server" in want_fields:
            srv = sl.str.extract(P_SERVER)[0]
            out.loc[slow, "cache_server"] = ("cache-" + srv).where(srv.notna(), other=None)
        if "process" in want_fields or "pid" in want_fields:
            proc = sl.str.extract(P_PROCESS)
            if "process" in want_fields:
                out.loc[slow, "process"] = _none_if_empty(proc[0])
            if "pid" in want_fields:
                out.loc[slow, "pid"] = _safe_int(proc[1])

    # ---- path / query split (shared by both branches) ----
    if need_path:
        paths = [None] * n
        qss = [None] * n
        params_col = [None] * n
        fp_list = out["_full_path"].tolist()
        for i in range(n):
            fp = fp_list[i]
            if isinstance(fp, str):
                # fallback branch with no HTTP match keeps all-NULL keys;
                # fast path always has a non-empty full_path ([^"]+ is 1+)
                paths[i], qss[i], params_col[i] = _split_query(fp)
        if "path" in want:
            out["path"] = pd.Series(paths, index=raw.index, dtype="object")
        if "query_string" in want:
            out["query_string"] = pd.Series(qss, index=raw.index, dtype="object")
        if "query_params" in want:
            out["query_params"] = pd.Series(params_col, index=raw.index, dtype="object")
        out = out.drop(columns=["_full_path"], errors="ignore")

    # mark blank rows for the caller to drop
    out["_keep"] = nonblank

    # final dtypes for Arrow
    for col in ("priority", "pid", "status_code"):
        if col in want:
            out[col] = out[col].astype("Int64").astype("Int32")
    if "response_size" in want:
        out["response_size"] = out["response_size"].astype("Int64")
    if "timestamp" in want:
        out["timestamp"] = pd.to_datetime(out["timestamp"])
    return out


PARSED_ORDER = [f.name for f in PARSED_FIELDS]


def parse_logs(
    df: DataFrame,
    line_col: str = "text",
    passthrough: list[str] | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Parse ``df[line_col]`` into the parsed-record schema via mapInPandas.

    ``passthrough`` columns (e.g. url, warc_ts, lang) are carried alongside
    the parsed fields.  Upstream column pruning applies: only
    ``passthrough + [line_col]`` is read from the source.

    ``columns`` prunes the parsed output to the named fields (order follows
    the canonical record order).  Catalyst cannot push a projection through
    ``mapInPandas``, so callers that need a few fields should prune here —
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
    out_cols = (
        [c for c in PARSED_ORDER if c in set(columns)] if columns is not None
        else PARSED_ORDER
    )
    in_schema = df.select(*passthrough, line_col).schema
    out_schema = T.StructType(
        [in_schema[c] for c in passthrough]
        + [f for f in PARSED_FIELDS if f.name in set(out_cols)]
    )

    def _iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = parse_lines_pdf(pdf[line_col], columns=out_cols)
            keep = parsed.pop("_keep")
            res = pd.concat(
                [pdf[passthrough].reset_index(drop=True),
                 parsed[out_cols].reset_index(drop=True)],
                axis=1,
            )
            yield res[keep.reset_index(drop=True).to_numpy()]

    return df.select(*passthrough, line_col).mapInPandas(_iter, schema=out_schema)


def parse_log_line(line: str) -> dict | None:
    """Single-line convenience wrapper (test/debug parity helper).

    Returns a dict shaped like the reference's ``parse_log_line`` output:
    absent fields are missing keys, except explicit-None cases.
    """
    return row_record(parse_lines_pdf(pd.Series([line])).iloc[0])


def row_record(row: pd.Series) -> dict | None:
    """One ``parse_lines_pdf`` row in :func:`parse_log_line`'s shape (None
    for a dropped blank line)."""
    if not bool(row["_keep"]):
        return None
    out = {}
    for k, v in row.drop(labels=["_keep"]).items():
        if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NaT or v is pd.NA:
            continue
        if k in ("priority", "pid", "status_code", "response_size"):
            v = int(v)
        if k == "timestamp":
            v = v.isoformat()
        out[k] = v
    return out
