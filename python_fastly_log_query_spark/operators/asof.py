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
dimension rows sort before fact rows at equal timestamps.

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

