"""Scalar column expressions — pure Catalyst (no UDFs, whole-stage codegen).

Each function re-expresses a row-wise Python lambda from the reference as a
Column expression (SURVEY.md §2.10): these run JVM-side and vectorized.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def agent_type_lowered(ua: Column, lo: Column) -> Column:
    """Classifier body over a pre-lowered UA column: callers should
    project ``lower(user_agent)`` once (a separate select) so the
    when-chain's ~13 references hit one materialized value inside
    whole-stage codegen instead of lowercasing per rule."""
    return (
        F.when(ua.isNull() | (ua == ""), "Unknown")
        .when(lo.contains("mozilla") & lo.contains("firefox"), "Firefox")
        .when(lo.contains("chrome") & lo.contains("safari"), "Chrome")
        .when(lo.contains("safari") & ~lo.contains("chrome"), "Safari")
        .when(lo.contains("python-requests"), "Python/requests")
        .when(lo.contains("curl"), "curl")
        .when(lo.contains("datadog"), "Datadog")
        .otherwise("Other")
    )


def agent_type(ua: Column) -> Column:
    """UA → agent-type classifier, reference ``extract_agent_type``
    (reference src/analyze/analytics.py:200-222): ordered contains-rules on
    the lowercased UA; null/empty → 'Unknown'.

    Single-expression form (lowercases per rule); hot paths should use
    ``agent_type_lowered`` over a projected ``lower(ua)`` column."""
    return agent_type_lowered(ua, F.lower(ua))


def query_signature(path: Column, query_params: Column) -> Column:
    """``path?k1=v1&k2`` with sorted params; ``k`` alone when the value is
    empty; bare path when no params (reference src/analyze/analytics.py:234-259)."""
    entries = F.array_sort(F.map_entries(query_params))
    param_str = F.array_join(
        F.transform(
            entries,
            lambda e: F.when(e["value"] == "", e["key"]).otherwise(
                F.concat(e["key"], F.lit("="), e["value"])
            ),
        ),
        "&",
    )
    path_nn = F.coalesce(path, F.lit(""))
    return F.when(
        query_params.isNotNull() & (F.size(query_params) > 0),
        F.concat(path_nn, F.lit("?"), param_str),
    ).otherwise(path_nn)


def status_class(status_code: Column) -> Column:
    """1xx…5xx bucket (reference src/analyze/analytics.py:816-827)."""
    return F.when(
        status_code.isNotNull() & (status_code >= 100) & (status_code < 600),
        F.concat((status_code / 100).cast("int").cast("string"), F.lit("xx")),
    ).otherwise(F.lit("other"))


def ip_to_long(ip: Column) -> Column:
    """Dotted-quad IPv4 → uint32-as-long, for GeoIP range joins."""
    parts = F.split(ip, r"\.")
    return (
        parts.getItem(0).cast("long") * 16777216
        + parts.getItem(1).cast("long") * 65536
        + parts.getItem(2).cast("long") * 256
        + parts.getItem(3).cast("long")
    )


def host_of_url(url: Column) -> Column:
    """Host component of an http(s) URL."""
    return F.parse_url(url, F.lit("HOST"))


def round_half_away(col: Column | str, nd: int) -> Column:
    """Half-away-from-zero rounding of the double's BINARY value:
    ``sign(x) * floor(|x| * 10^nd + 0.5) / 10^nd``.

    Spark's ``F.round`` converts the double through
    ``BigDecimal.valueOf`` — i.e. it rounds the value's SHORTEST DECIMAL
    REPRESENTATION, so a binary 0.5216499999999999 whose shortest repr is
    "0.52165" rounds UP to 0.5217, while engines that round the true
    binary value (DuckDB, C `round`) produce 0.5216.  Verified against
    DuckDB ``round(x, nd)`` on 4*10^5 random + adversarial doubles with
    zero mismatches, so every registry value that a SQL oracle mirrors
    with ``round()`` must round through THIS function, never ``F.round``.
    (Found by the full-registry sweep at sf0.1: 2 of 5000 quality scores
    landed exactly on a shortest-repr half boundary.)
    """
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("double")
    s = F.lit(float(10**nd))
    return F.signum(c) * F.floor(F.abs(c) * s + F.lit(0.5)) / s
