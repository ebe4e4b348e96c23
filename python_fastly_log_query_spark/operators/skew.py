"""Skew-defusing salted aggregation (SURVEY.md §4; north star: "explicit
repartitioning on a salted host-hash key to defuse hot-domain skew").

A Zipf-hot key (one host with 30% of 10^12 rows) turns a plain
``groupBy(host).agg`` into one straggler reducer.  The fix is two-phase:

  phase 1: group by (key, salt) — the hot key fans out over
           ``salt_buckets`` reducers; partial aggregates are tiny;
  phase 2: group by key — combines ``salt_buckets`` partials per key.

Catalyst already does map-side partial aggregation, which absorbs *row*
volume — but when a single key's partials still overwhelm one reducer
(huge distinct-value states, memory-bound aggs), the explicit salt is the
lever.  AQE's ``skewJoin`` handles the join case; this handles the agg
case.  The result is bit-identical to the unsalted aggregate (that
equality is the registered oracle check).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def salt_col(buckets: int) -> Column:
    """Stable per-row salt in [0, buckets): hash of the row's whole
    partition-id+offset via ``monotonically_increasing_id`` — no state, no
    RNG, uniform enough to split a hot key across reducers."""
    return F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(buckets)).cast("int")


def salted_counts(df: DataFrame, key: str | Column, buckets: int = 16,
                  out: str = "requests") -> DataFrame:
    """Two-phase salted count: identical result to
    ``df.groupBy(key).count()`` with the hot key spread over ``buckets``
    reducers in phase 1."""
    k = F.col(key) if isinstance(key, str) else key
    partial = (
        df.select(k.alias("_k"), salt_col(buckets).alias("_salt"))
        .groupBy("_k", "_salt")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        partial.groupBy("_k")
        .agg(F.sum("_c").alias(out))
        .withColumnRenamed("_k", key if isinstance(key, str) else "key")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    hot_keys: list,
    left_id: str,
    n_salt: int = 8,
) -> DataFrame:
    """Skew-defused BIG-BIG equi-join: hot-key rows are scattered over
    ``n_salt`` sub-keys on the left and REPLICATED ``n_salt`` times on
    the right, so one Zipf key's matches spread across n_salt reducers
    instead of one straggler task.  Non-hot keys pay nothing (salt 0 on
    both sides).  Row-identical to ``left.join(right, on)`` — the
    registered oracle's check.

    This is the join-side lever next to :func:`salted_counts` (the agg
    side).  AQE's
    skew-join split covers most cases at runtime; the explicit salt is
    for the cases AQE can't rescue: a single key too large for ANY
    un-split partition, pre-AQE static plans, or when the right side's
    hot rows must replicate (AQE splits partitions, it cannot replicate
    the build side).  ``hot_keys`` is a plan literal — at deploy, feed
    it from the key_skew_audit report.

    ``left_id`` must name a deterministic column (row id) — the salt is
    md5(left_id), so reruns scatter identically; rand() would not.
    Inner-join semantics; both inputs may be arbitrarily large (nothing
    is broadcast by construction — replication is explode-side, bounded
    by n_salt x hot right rows).
    """
    hot = F.col(on).isin(hot_keys)
    lsalt = (
        F.when(
            hot,
            F.conv(
                F.substring(F.md5(F.col(left_id).cast("string")), 1, 8), 16, 10
            ).cast("long")
            % n_salt,
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    l2 = left.withColumn("_salt", lsalt)
    rsalt = F.explode(
        F.when(hot, F.sequence(F.lit(0), F.lit(n_salt - 1))).otherwise(
            F.array(F.lit(0))
        )
    )
    r2 = right.withColumn("_salt", rsalt)
    return l2.join(r2, [on, "_salt"]).drop("_salt")
