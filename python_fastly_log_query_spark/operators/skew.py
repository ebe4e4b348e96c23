"""Skew-defused big-big join (SURVEY.md §4; north star: "explicit
repartitioning on a salted host-hash key to defuse hot-domain skew").

A Zipf-hot key (one host with 30% of 10^12 rows) turns a plain equi-join
into one straggler reducer.  Aggregates need no salt: Catalyst's map-side
partial aggregate already cuts a hot key down to one row per map task
before the Exchange, so a salted two-phase count only adds a second
Exchange.  The join side has no such partial step, so the explicit salt
is the lever there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


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

    AQE's skew-join split covers most cases at runtime; the explicit salt is
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
