"""Broadcast lookup enrichment (SURVEY.md §2.5).

The reference has no relational joins; the graft's north star adds
enrichment against small GeoIP / service-ID dimensions.  All dims are
broadcast-sized by construction, so every join here is a broadcast join —
zero shuffle of the fact side at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.columns import ip_to_long


# a dim row is keyed by the high-order 8 bits (the /8) of each address it
# covers; the join derives the same key from the fact's address
_PREFIX_SHIFT = 24


def build_geoip_dim(spark, ranges) -> DataFrame:
    """GeoIP dim from ``(ip_lo, ip_hi, country, asn)`` uint32 ranges: each
    range is replicated once per /8 prefix it overlaps, so
    :func:`enrich_geoip` equi-joins on the prefix."""
    rows = [
        (prefix, lo, hi, country, asn)
        for lo, hi, country, asn in ranges
        for prefix in range(lo >> _PREFIX_SHIFT, (hi >> _PREFIX_SHIFT) + 1)
    ]
    return spark.createDataFrame(
        rows, "prefix int, ip_lo long, ip_hi long, country string, asn string"
    )


def enrich_geoip(df: DataFrame, geoip: DataFrame, ip_col: str = "ip_address") -> DataFrame:
    """Left range-join ``ip_to_long(ip) BETWEEN ip_lo AND ip_hi`` against a
    broadcast GeoIP dim (see :func:`build_geoip_dim`) → adds
    ``country``/``asn``.

    Plans as a BroadcastHashJoin: the equi-key is the address's /8
    prefix and the range is a residual predicate, so each row probes only
    the ranges of its own prefix — the plan that still holds with a
    million-block MaxMind dim.
    """
    withp = df.withColumn("_ipl", ip_to_long(F.col(ip_col))).withColumn(
        "_prefix", (F.col("_ipl") / F.lit(1 << _PREFIX_SHIFT)).cast("int")
    )
    joined = withp.join(
        F.broadcast(geoip),
        (withp["_prefix"] == geoip["prefix"])
        & (withp["_ipl"] >= geoip["ip_lo"])
        & (withp["_ipl"] <= geoip["ip_hi"]),
        "left",
    )
    return joined.drop("_ipl", "_prefix", "prefix", "ip_lo", "ip_hi")


def default_service_dim(spark) -> DataFrame:
    """Built-in service-routing dim over the reference's ``/api/<type>``
    path space — nested prefixes exercise longest-prefix resolution."""
    return spark.createDataFrame(
        [
            ("/api/p", "payments", "backend"),
            ("/api/s", "auth", "backend"),
            ("/api", "api", "backend"),
            ("/", "web", "frontend"),
        ],
        "path_prefix string, service string, tier string",
    )


_SERVICE_DIM_MAX_RULES = 1000


def enrich_service(
    df: DataFrame,
    services: DataFrame,
    path_col: str = "path",
) -> DataFrame:
    """Longest-prefix-match of ``path`` against a small service dim →
    adds ``service``/``tier``.

    The dim is routing RULES — inherently small — so it is collected once
    and compiled into a single codegen'd ``when`` chain ordered longest
    prefix first (ties broken by prefix text for determinism).  That
    removes the former broadcast-theta-join + max_by-on-unique-key shape
    entirely: no join, no aggregate, no unique-row-key requirement (the
    old ``key_col`` contract silently mis-routed rows whenever the key
    collided — e.g. per-partition line numbers on a multi-split text
    file), and exactly one projection per row at any scale.  Rows with no
    matching prefix keep null service/tier.  Guarded at
    ``_SERVICE_DIM_MAX_RULES`` rules — past that, a when-chain stops
    being the right plan and a real join belongs here.
    """
    rules = services.select("path_prefix", "service", "tier").collect()
    if len(rules) > _SERVICE_DIM_MAX_RULES:
        raise ValueError(
            f"service dim has {len(rules)} rules; enrich_service compiles a "
            f"when-chain and caps at {_SERVICE_DIM_MAX_RULES}"
        )
    ordered = sorted(rules, key=lambda r: (-len(r["path_prefix"]), r["path_prefix"]))
    p = F.col(path_col)
    service_expr, tier_expr = None, None
    for r in ordered:
        cond = p.startswith(F.lit(r["path_prefix"]))
        service_expr = (
            F.when(cond, r["service"])
            if service_expr is None
            else service_expr.when(cond, r["service"])
        )
        tier_expr = (
            F.when(cond, r["tier"]) if tier_expr is None else tier_expr.when(cond, r["tier"])
        )
    if service_expr is None:
        service_expr = tier_expr = F.lit(None).cast("string")
    return df.withColumn("service", service_expr).withColumn("tier", tier_expr)


def grid_range_join(
    points: DataFrame,
    rects: DataFrame,
    cell: int = 100,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Spatial point-in-rectangle join WITHOUT a nested-loop plan: the
    2-D analog of the GeoIP prefix trick.  Spark plans a raw
    ``p.x BETWEEN r.xmin AND r.xmax AND p.y BETWEEN ...`` theta join as
    BroadcastNestedLoopJoin (or a cartesian) — O(points × rects) at
    10^12 points.  Bucketing both sides onto a covering grid makes it an
    EQUI-join: each point hashes to its one ``(x div cell, y div cell)``
    cell; each rectangle explodes onto the cells it covers (bounded by
    its area / cell²); the join key is the cell, and the exact
    containment predicate filters survivors.  Inclusive bounds
    ``[xmin, xmax] × [ymin, ymax]``; integer coordinates.

    ``cell`` trades replication (big cells → fewer rect copies) against
    join selectivity (small cells → fewer false cell-mates); set it near
    the median rectangle side.  A point lands in exactly ONE cell, so no
    output dedup is needed.
    """
    pc = points.withColumn("_cx", F.expr(f"{x} div {cell}")).withColumn(
        "_cy", F.expr(f"{y} div {cell}")
    )
    rc = rects.select(
        "*", F.explode(F.expr(f"sequence(xmin div {cell}, xmax div {cell})")).alias("_cx")
    ).select(
        "*", F.explode(F.expr(f"sequence(ymin div {cell}, ymax div {cell})")).alias("_cy")
    )
    return (
        pc.join(rc, ["_cx", "_cy"])
        .filter(
            (F.col(x) >= F.col("xmin"))
            & (F.col(x) <= F.col("xmax"))
            & (F.col(y) >= F.col("ymin"))
            & (F.col(y) <= F.col("ymax"))
        )
        .drop("_cx", "_cy")
    )
