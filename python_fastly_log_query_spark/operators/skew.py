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


def sessionize_chunked(
    df: DataFrame,
    ip_col: str = "ip_address",
    ts_col: str = "timestamp",
    id_col: str = "event_id",
    gap_sec: int = 30 * 60,
    chunk_sec: int = 4 * 3600,
) -> DataFrame:
    """Skew-hardened gap sessionization (VERDICT r3 item 4): identical
    result to the plain per-key window sessionizer, with the per-event
    work partitioned by ``(key, time chunk)`` instead of raw key — a hot
    NAT/proxy IP with 10^8 events no longer serializes into one window
    task (plain windows partition by the raw key and AQE cannot split a
    window partition).

    Two passes:

    1. **per-event, bounded partitions** — events sessionize with
       lag+cumsum INSIDE ``(ip, floor(ts / chunk_sec))``; the largest
       partition is one key's events in one chunk (rate x chunk_sec),
       tunable via ``chunk_sec``, regardless of how hot the key is.
    2. **stitch, session-sized data** — local sessions collapse to one
       summary row each; consecutive summaries (per ip, ordered by
       (chunk, local session)) merge iff the next session starts within
       ``gap_sec`` of the previous end.  Within a chunk consecutive local
       sessions are > gap apart BY CONSTRUCTION, so this uniform rule
       exactly reconstructs the unchunked sessions; only chunk-boundary
       sessions can actually merge.  The stitch window is per ip over
       SESSION SUMMARIES, bounded by observed_time/gap + #chunks — for a
       30-day horizon that is <= ~1600 rows per key even for a key with
       10^9 events, so the residual per-key window is structurally tiny.

    Returns one row per merged session:
    ``(ip_col, session_id, hits, span_sec)`` — the same per-session frame
    the plain sessionizer rolls up, proven equal on data AND on a skewed
    profile by tests/test_aggregate_parity.py.
    """
    from pyspark.sql.window import Window

    ep = F.col(ts_col).cast("long")
    chunked = df.select(
        ip_col, ts_col, id_col, F.floor(ep / chunk_sec).alias("_chunk")
    )
    w1 = Window.partitionBy(ip_col, "_chunk").orderBy(ts_col, id_col)
    prev = F.lag(ts_col).over(w1)
    new_local = F.when(
        prev.isNull() | (ep - prev.cast("long") > gap_sec), 1
    ).otherwise(0)
    w1s = w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = chunked.withColumn("_new", new_local).withColumn(
        "_lsid", F.sum("_new").over(w1s)
    )
    summaries = local.groupBy(ip_col, "_chunk", "_lsid").agg(
        F.count(F.lit(1)).alias("_hits"),
        F.min(ep).alias("_min_ep"),
        F.max(ep).alias("_max_ep"),
    )
    w2 = Window.partitionBy(ip_col).orderBy("_chunk", "_lsid")
    prev_end = F.lag("_max_ep").over(w2)
    new_global = F.when(
        prev_end.isNull() | (F.col("_min_ep") - prev_end > gap_sec), 1
    ).otherwise(0)
    w2s = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stitched = summaries.withColumn("_newg", new_global).withColumn(
        "session_id", F.sum("_newg").over(w2s)
    )
    return stitched.groupBy(ip_col, "session_id").agg(
        F.sum("_hits").alias("hits"),
        (F.max("_max_ep") - F.min("_min_ep")).alias("span_sec"),
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
    side) and :func:`sessionize_chunked` (the window side).  AQE's
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
