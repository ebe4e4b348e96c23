"""Point-in-time (as-of) join: enrich each fact row with the LATEST
dimension version whose ``valid_from <= fact ts`` — the slowly-changing-
dimension lookup every log/telemetry pipeline needs (which config /
routing rule / pricing version was active when this request landed?).

Spark has no ASOF JOIN operator.  The naive encoding — a range join
``ON e.key = d.key AND e.ts >= d.valid_from`` plus a per-row max — plans
as BroadcastNestedLoopJoin (or a cartesian per key) and the per-event
match multiplicity is the number of versions, an O(facts x versions)
blow-up.  This module implements the scalable shape instead:

  union the tagged fact and dimension rows on a shared time axis,
  hash-partition ONCE by the join key, sort by (t, dim-first), and let
  ``last(payload, ignorenulls=True)`` over the running window carry each
  dimension version forward to every later fact row.

One shuffle, one sort, zero joins — the same plan a big-big as-of merge
needs at 100 TB (both sides co-partitioned by key; dimension size only
adds rows to the sort, never multiplies facts).  Ties (fact ts ==
valid_from) take the NEW version, matching DuckDB/kdb ASOF semantics —
dimension rows sort before fact rows at equal timestamps.  Skew note:
a hot key serializes its window partition; :func:`asof_join_chunked`
partitions by (key, time chunk) instead and carries the dimension
version active at each chunk start into that chunk's head.

Reference analog: the service/geo enrichment of
/root/reference/src/analyze/analytics.py (static lookups), lifted to
time-versioned dimensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
    ts: str,
    dim_ts: str = "valid_from",
    payload: list[str] | None = None,
) -> DataFrame:
    """Left as-of join: every ``facts`` row, enriched with the payload
    columns of the latest ``dim`` row per ``on`` key with
    ``dim_ts <= facts.ts`` (NULL payload when no version is old enough).

    ``payload`` defaults to every dim column except ``on``/``dim_ts``.
    Output schema: all fact columns + payload columns.
    """
    if payload is None:
        payload = [c for c in dim.columns if c not in (on, dim_ts)]

    # the payload travels as ONE struct (null on fact rows, non-null on
    # every dim row): `last(ignorenulls)` then carries whole VERSIONS
    # forward — per-column carries would leak an older value through a
    # legitimately-NULL field of the newest version
    pay = F.struct(*[F.col(p) for p in payload]).alias("_pay")
    pay_type = dim.select(pay).schema["_pay"].dataType.simpleString()

    fact_side = facts.select(
        F.col(on),
        F.col(ts).alias("_t"),
        F.lit(0).alias("_is_dim"),
        F.lit(None).cast(pay_type).alias("_pay"),
        *[F.col(c) for c in facts.columns if c != on],
    )
    dim_side = dim.select(
        F.col(on),
        F.col(dim_ts).alias("_t"),
        F.lit(1).alias("_is_dim"),
        pay,
        *[
            F.lit(None).cast(dict(facts.dtypes)[c]).alias(c)
            for c in facts.columns
            if c != on
        ],
    )
    u = fact_side.unionByName(dim_side)

    # dim rows first at equal _t: a fact at exactly valid_from sees the
    # new version (ASOF >= semantics)
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_t").asc(), F.col("_is_dim").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        u.withColumn("_pay", F.last("_pay", ignorenulls=True).over(w))
        .filter(F.col("_is_dim") == 0)
        .drop("_t", "_is_dim")
    )
    for p in payload:
        out = out.withColumn(p, F.col("_pay").getField(p))
    return out.drop("_pay")


def asof_join_chunked(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
    ts: str,
    dim_ts: str = "valid_from",
    payload: list[str] | None = None,
    chunk_seconds: int = 4 * 3600,
) -> DataFrame:
    """Skew-hardened :func:`asof_join`: windows partition by
    ``(key, time chunk)`` instead of raw key, so one hot key (a NAT IP, a
    mega-host) fans out across its chunks instead of serializing into a
    single window task, with one stitch step:

    1. carry-in: for every (key, chunk) present in FACTS, the dimension
       version active at the chunk START — computed by running the plain
       as-of join of the chunk-grid timestamps against ``dim``.  The grid
       is aggregate-small (#keys x #chunks, map-side combinable), so this
       pass never touches fact rows and has no skew.
    2. union carry-in rows (pseudo-dim rows pinned at chunk start) with
       the real dim rows and the facts, then run the SAME running-window
       carry within ``(key, chunk)``.

    A real dim row landing exactly on a chunk boundary agrees with the
    carry-in by construction (both resolve to the latest
    ``valid_from <= chunk_start``), so tie order between them cannot
    change the result.  Exact-equal to :func:`asof_join` (shared oracle +
    randomized cross-check in tests).
    """
    if payload is None:
        payload = [c for c in dim.columns if c not in (on, dim_ts)]

    # TIMESTAMP_NTZ won't cast straight to long; hop through LTZ (the
    # session timezone is pinned UTC by the registry wrapper, so the
    # NTZ->LTZ reinterpretation is deterministic)
    def _epoch(col):
        return F.col(col).cast("timestamp_ltz").cast("long")

    chunk = F.floor(_epoch(ts) / chunk_seconds).alias("_chunk")

    # 1. dimension state at each chunk start (dimension-sized pass)
    grid = (
        facts.select(F.col(on), chunk)
        .distinct()
        .withColumn(
            "_t0", F.timestamp_seconds(F.col("_chunk") * chunk_seconds)
        )
    )
    carry = asof_join(grid, dim, on=on, ts="_t0", dim_ts=dim_ts, payload=payload)

    pay = F.struct(*[F.col(p) for p in payload]).alias("_pay")
    pay_type = dim.select(pay).schema["_pay"].dataType.simpleString()

    fact_side = facts.select(
        F.col(on),
        chunk,
        F.col(ts).alias("_t"),
        F.lit(0).alias("_is_dim"),
        F.lit(None).cast(pay_type).alias("_pay"),
        *[F.col(c) for c in facts.columns if c != on],
    )
    nulls = [
        F.lit(None).cast(dict(facts.dtypes)[c]).alias(c)
        for c in facts.columns
        if c != on
    ]
    # all-NULL carry structs (no version before the chunk) are kept: they
    # unpack to NULL payload exactly like "no version found"
    carry_side = carry.select(
        F.col(on),
        F.col("_chunk"),
        F.col("_t0").alias("_t"),
        F.lit(1).alias("_is_dim"),
        F.struct(*[F.col(p) for p in payload]).alias("_pay"),
        *nulls,
    )
    dim_side = dim.select(
        F.col(on),
        F.floor(_epoch(dim_ts) / chunk_seconds).alias("_chunk"),
        F.col(dim_ts).alias("_t"),
        F.lit(1).alias("_is_dim"),
        pay,
        *nulls,
    )

    u = fact_side.unionByName(carry_side).unionByName(dim_side)
    w = (
        Window.partitionBy(on, "_chunk")
        .orderBy(F.col("_t").asc(), F.col("_is_dim").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        u.withColumn("_pay", F.last("_pay", ignorenulls=True).over(w))
        .filter(F.col("_is_dim") == 0)
        .drop("_t", "_is_dim", "_chunk")
    )
    for p in payload:
        out = out.withColumn(p, F.col("_pay").getField(p))
    return out.drop("_pay")
