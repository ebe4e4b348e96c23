"""The pandas batch parser that ``operators/parse.py`` ran before its Arrow
core, kept verbatim: the reference the Arrow core is compared against
column by column (tests/test_parse_arrow.py).  It shares the package's
patterns; only the per-batch machinery (``str.extract`` frames, ``.loc``
assignments, ``where`` chains) lives here.  By design the two parsers
differ where a value does not fit its Spark column: this one wraps an
out-of-range integer, the Arrow core reads NULL.  They differ too where
pandas' readers part from the reference's ``int``/``strptime``, which the
core follows: a second of 60 (pandas rolls it into the next minute), a
year outside pandas' nanosecond range and non-ASCII digits in an integer
read NULL here and as the reference reads them in the core."""

from __future__ import annotations

import re
from typing import Optional

import pandas as pd

from python_fastly_log_query_spark.operators.parse import (
    _LINE_SEGMENTS,
    P_CACHE,
    P_HTTP,
    P_IP,
    P_PRIORITY,
    P_PROCESS,
    P_SERVER,
    P_SIZE,
    P_STATUS,
    P_TIMESTAMP,
    P_UA_LONG,
    P_UA_MOZILLA,
)
from python_fastly_log_query_spark.schema import PARSED_FIELDS

_TS_FORMAT = "%Y-%m-%dT%H:%M:%SZ"


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
