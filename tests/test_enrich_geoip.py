"""GeoIP range enrichment at the range edges, and malformed addresses.

The ranges sit in the RFC 5737 documentation blocks plus one covering
1.0.0.0/8, so a parser that read only the first four dot-separated parts
of ``1.2.3.4.5`` would geolocate it."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_fastly_log_query_spark.functions.columns import ip_to_long
from python_fastly_log_query_spark.operators.enrich import build_geoip_dim, enrich_geoip


def _ip(s: str) -> int:
    a, b, c, d = (int(x) for x in s.split("."))
    return a << 24 | b << 16 | c << 8 | d


RANGES = [
    ("192.0.2.0", "192.0.2.127", "AA"),      # TEST-NET-1, lower half
    ("198.51.100.0", "198.51.100.255", "BB"),  # TEST-NET-2
    ("203.0.113.64", "203.0.113.95", "CC"),   # TEST-NET-3, a /27
    ("1.0.0.0", "1.255.255.255", "DD"),
]

# at ip_lo / ip_hi of each range
IN_RANGE = {
    "192.0.2.0": "AA",
    "192.0.2.127": "AA",
    "198.51.100.0": "BB",
    "198.51.100.255": "BB",
    "203.0.113.64": "CC",
    "203.0.113.95": "CC",
    "1.2.3.4": "DD",
}
# one address just outside each documentation range, and both ends of uint32
OUTSIDE = ["192.0.2.128", "198.51.101.0", "203.0.113.63", "0.0.0.0", "255.255.255.255"]
MALFORMED = ["1.2.3.4.5", "256.1.1.1", "1.2.3", "2001:db8::1", "", "1.2.3.-4", "1.2.3.4 ", "1.2.3.4\n"]


def _dim(spark):
    return build_geoip_dim(
        spark, [(_ip(lo), _ip(hi), country, "AS64496") for lo, hi, country in RANGES]
    )


def _facts(spark):
    ips = [*IN_RANGE, *OUTSIDE, *MALFORMED]
    return spark.createDataFrame([(ip,) for ip in ips], "ip_address string")


def test_ip_to_long_accepts_only_four_octets(spark):
    got = {
        r["ip_address"]: r["n"]
        for r in _facts(spark).select("ip_address", ip_to_long(F.col("ip_address")).alias("n")).collect()
    }
    assert got == {
        **{ip: _ip(ip) for ip in [*IN_RANGE, *OUTSIDE]},
        **dict.fromkeys(MALFORMED),
    }


def test_enrich_geoip_range_edges_and_malformed(spark):
    out = enrich_geoip(_facts(spark), _dim(spark))
    got = {r["ip_address"]: r["country"] for r in out.collect()}
    assert got == {**IN_RANGE, **dict.fromkeys(OUTSIDE), **dict.fromkeys(MALFORMED)}


def test_geoip_dim_ranges_are_disjoint_within_each_prefix():
    """`cli query` reports over the GeoIP-enriched frame: a left join keeps
    one row per parsed row only while no address falls in two ranges of
    its /8 prefix.  The rows are read off the builder without a Spark job."""
    from python_fastly_log_query_spark.datagen import geoip_dim

    class Rows:
        def createDataFrame(self, rows, schema):
            return rows

    by_prefix: dict[int, list[tuple[int, int]]] = {}
    for prefix, lo, hi, _country, _asn in geoip_dim(Rows(), 256):
        assert lo <= hi and lo >> 24 <= prefix <= hi >> 24
        by_prefix.setdefault(prefix, []).append((lo, hi))
    assert sorted(by_prefix) == list(range(256))
    for ranges in by_prefix.values():
        ranges.sort()
        assert all(a_hi < b_lo for (_, a_hi), (b_lo, _) in zip(ranges, ranges[1:]))
