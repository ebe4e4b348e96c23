"""Count-min sketch: mergeable heavy-hitter counting in one shuffle.

The 10^12-row problem: ``groupBy(key).count()`` over a high-cardinality
key shuffles one row per distinct key.  When only the heavy keys matter,
a count-min sketch (Cormode & Muthukrishnan 2005) bounds the shuffle at
``depth x width`` rows PER MAP TASK regardless of input size: each task's
map-side partial aggregation IS its local sketch, and the reduce-side
merge (element-wise sum) is exactly the CMS merge operator.  Estimates
never undercount; they overcount by at most ``e/width * N`` with
probability ``1 - e^-depth`` per key.

Spark-first shape (no UDFs anywhere):

- ``cms_buckets`` derives the per-depth bucket index from
  ``md5(depth || ':' || key)`` — deterministic, identically replayable in
  DuckDB SQL (``CAST('0x' || substr(md5(..),1,15) AS BIGINT) % width``),
  so sketch contents and estimates carry FULL value oracles.
- ``cms_sketch`` is ``posexplode(buckets) -> groupBy(depth, bucket)``:
  one shuffle of at most depth*width rows per partition after partial
  aggregation (HashAggregate partial_count in the plan).
- ``cms_estimate`` joins candidate keys to the sketch with
  ``broadcast()`` — the sketch is at most depth*width rows by
  construction, the canonical small side — and takes ``min`` over depths.

Reference parity anchor: the reference's top-N rankings
(`/root/reference/src/analyze/analytics.py` Counter.most_common sites)
are exact; this is the sub-linear-state alternative for keys too numerous
to hold exactly, complementing the HLL path
(``approx_distinct_ips_per_path``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucket(key: F.Column, depth: int, width: int) -> F.Column:
    """Row ``depth``'s bucket for ``key``: 60 md5 bits mod width.

    Matches DuckDB ``CAST('0x' || substr(md5(d || ':' || key), 1, 15)
    AS BIGINT) % width`` bit-for-bit (15 hex digits = 60 bits, positive,
    so both engines' ``%`` agree).
    """
    h = F.md5(F.concat(F.lit(f"{depth}:"), key))
    return (F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % width).cast(
        "long"
    )


def cms_buckets(key: F.Column, depth: int, width: int) -> F.Column:
    """Array of per-depth bucket indices for ``key`` (length ``depth``)."""
    return F.array(*[_bucket(key, d, width) for d in range(depth)])


def cms_sketch(
    df: DataFrame, key: str, depth: int = 4, width: int = 512
) -> DataFrame:
    """Build the ``(depth, bucket, cnt)`` sketch table in ONE shuffle.

    Null keys are excluded (they have no bucket).  Partial aggregation
    caps each map task's shuffle write at ``depth * width`` rows, so the
    reduce side sees O(tasks * depth * width) rows — independent of N.
    """
    ex = df.filter(F.col(key).isNotNull()).select(
        F.posexplode(cms_buckets(F.col(key), depth, width)).alias(
            "depth", "bucket"
        )
    )
    return ex.groupBy("depth", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-query ``keys[key]`` against ``sketch``: min count over depths.

    The sketch side is broadcast — it is at most ``depth * width`` rows by
    construction, so the estimate join never shuffles the key table.
    Returns the input ``keys`` columns plus ``cms_est``; the CMS guarantee
    is ``cms_est >= true count`` always (deterministically — every
    occurrence of the key landed in each probed cell).
    """
    kb = keys.select(
        "*",
        F.posexplode(cms_buckets(F.col(key), depth, width)).alias(
            "depth", "bucket"
        ),
    )
    joined = kb.join(F.broadcast(sketch), ["depth", "bucket"], "left")
    others = [c for c in keys.columns]
    return joined.groupBy(*others).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est")
    )


# ------------------------------------------------------------------ KMV
#
# K-minimum-values (Bar-Yossef et al. 2002; the theta-sketch family):
# the k smallest DISTINCT hash values of a set are a uniform sample of
# its hash space, so D ~= (k-1) * H / h_k (H = hash-space size, h_k =
# the kth smallest).  Unlike HLL, KMV sketches support SET OPERATIONS:
# the union sketch is the bottom-k of the combined value lists, and the
# fraction of union-sketch values present in both sides estimates the
# intersection — the cross-corpus overlap question ("how many 3-gram
# shingles do two crawl snapshots share?") answered without ever
# shuffling either corpus's distinct set.
#
# Determinism: hashes are the first 10 hex chars of md5 (40 bits, so
# every product below fits int64 and DuckDB replays the arithmetic
# bit-for-bit); estimates use integer division only.  A deploy against
# 10^10+ distinct items would widen to 60-bit hashes and HUGEINT/decimal
# estimator arithmetic — the plan shape is unchanged.

KMV_SPACE = 1 << 40  # 10 hex chars of md5


def kmv_hash(col: F.Column) -> F.Column:
    """Item -> 40-bit integer hash, identical in Spark and DuckDB
    (``CAST('0x' || substr(md5(x), 1, 10) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(col), 1, 10), 16, 10).cast("long")


def kmv_bottom_k(hashes: DataFrame, k: int) -> DataFrame:
    """The ``k`` smallest DISTINCT values of ``hashes.h`` — the KMV
    sketch — with per-partition state bounded at ``k`` values.

    A plain ``distinct().orderBy().limit(k)`` shuffles the FULL distinct
    set; this runs the streaming KMV inside each partition instead (an
    Arrow-batched fold holding at most ``k + batch`` values), so at most
    ``partitions * k`` rows ever reach the final exact bottom-k.  The
    partial sketches are themselves KMV sketches — merging by bottom-k
    of the union is exactly the sketch's merge operator.
    """

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        state = np.empty(0, dtype=np.int64)
        for batch in batches:
            state = np.unique(np.concatenate([state, batch.column("h").to_numpy()]))[:k]
        yield pa.RecordBatch.from_arrays([pa.array(state)], names=["h"])

    partials = hashes.select("h").mapInArrow(gen, "h long")
    return partials.distinct().orderBy("h").limit(k)


def _kmv_est(n_col: str, hk_col: str, k: int) -> F.Column:
    """Distinct-count estimate from a sketch's (size, kth value) columns:
    exact when the sketch is not full (n < k), else ``(k-1) * H div h_k``
    — INTEGER division (Spark ``div`` == DuckDB ``//`` for positives;
    float division + cast could round across an integer boundary)."""
    return F.when(F.col(n_col) < k, F.col(n_col)).otherwise(
        F.expr(f"{(k - 1) * KMV_SPACE}L div {hk_col}")
    )


def kmv_overlap(a: DataFrame, b: DataFrame, k: int = 256) -> DataFrame:
    """Distinct-count and OVERLAP estimates for two item sets given as
    single-column ``h`` hash frames (see :func:`kmv_hash`): one row —

    ``d_a_est, d_b_est, d_union_est, d_intersect_est, jaccard_ppm``

    Union sketch = bottom-k of the two sketches' union (the KMV merge);
    intersection = (fraction of union-sketch values present in BOTH
    input sketches) x the union estimate (Beyer et al. 2007).  Estimates
    are exact whenever a sketch is not full.  Everything after the two
    :func:`kmv_bottom_k` passes runs over <= 3k rows.
    """
    ska = kmv_bottom_k(a, k)
    skb = kmv_bottom_k(b, k)
    # the two sketches are <= k rows each: their union's exact bottom-k
    # needs no partition-local pre-fold
    sku = ska.union(skb).distinct().orderBy("h").limit(k)

    ea = ska.agg(F.count("*").alias("n_a"), F.max("h").alias("hk_a"))
    eb = skb.agg(F.count("*").alias("n_b"), F.max("h").alias("hk_b"))
    eu = sku.agg(F.count("*").alias("n_u"), F.max("h").alias("hk_u"))
    rho = (
        sku.join(ska, "h", "left_semi")
        .join(skb, "h", "left_semi")
        .agg(F.count("*").alias("n_both"))
    )
    est = (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .crossJoin(rho)
        .select(
            _kmv_est("n_a", "hk_a", k).alias("d_a_est"),
            _kmv_est("n_b", "hk_b", k).alias("d_b_est"),
            _kmv_est("n_u", "hk_u", k).alias("d_union_est"),
            F.col("n_both"),
            F.col("n_u"),
        )
    )
    return est.select(
        "d_a_est",
        "d_b_est",
        "d_union_est",
        F.expr("n_both * d_union_est div n_u").alias("d_intersect_est"),
        F.expr("1000000 * n_both div n_u").alias("jaccard_ppm"),
    )


def kmv_bottom_k_sides(hashes: DataFrame, k: int) -> DataFrame:
    """Two KMV sketches in ONE input scan: ``hashes`` carries
    ``(h, in_a, in_b)`` membership flags (an item may belong to both
    sides — overlapping snapshots), the partition-local Arrow fold
    maintains both bottom-k states simultaneously, and the exact
    per-side merge runs over <= 2·partitions·k rows.  Returns
    ``(side, h)`` with side in ('a', 'b') — bit-identical to running
    :func:`kmv_bottom_k` per side, at half the scan cost (the hash
    pipeline upstream is usually the expensive part)."""

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        sa = np.empty(0, dtype=np.int64)
        sb = np.empty(0, dtype=np.int64)
        for batch in batches:
            hs = batch.column("h").to_numpy()
            ina = batch.column("in_a").to_numpy(zero_copy_only=False).astype(bool)
            inb = batch.column("in_b").to_numpy(zero_copy_only=False).astype(bool)
            sa = np.unique(np.concatenate([sa, hs[ina]]))[:k]
            sb = np.unique(np.concatenate([sb, hs[inb]]))[:k]
        yield pa.RecordBatch.from_arrays(
            [pa.array(["a"] * len(sa) + ["b"] * len(sb)), pa.array(np.concatenate([sa, sb]))],
            names=["side", "h"],
        )

    from pyspark.sql import Window

    partials = hashes.select("h", "in_a", "in_b").mapInArrow(
        gen, "side string, h long"
    )
    w = Window.partitionBy("side").orderBy("h")
    return (
        partials.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_overlap_flagged(flagged: DataFrame, k: int = 256) -> DataFrame:
    """:func:`kmv_overlap` over a SINGLE flagged hash frame
    ``(h, in_a, in_b)`` — one corpus scan builds both sketches
    (:func:`kmv_bottom_k_sides`); estimates are identical to the
    two-scan path by construction."""
    sides = kmv_bottom_k_sides(flagged, k)
    from .dedup import selfjoin_ready

    sides = selfjoin_ready(sides)
    ska = sides.filter(F.col("side") == "a").select("h")
    skb = sides.filter(F.col("side") == "b").select("h")
    sku = ska.union(skb).distinct().orderBy("h").limit(k)
    ea = ska.agg(F.count("*").alias("n_a"), F.max("h").alias("hk_a"))
    eb = skb.agg(F.count("*").alias("n_b"), F.max("h").alias("hk_b"))
    eu = sku.agg(F.count("*").alias("n_u"), F.max("h").alias("hk_u"))
    rho = (
        sku.join(ska, "h", "left_semi")
        .join(skb, "h", "left_semi")
        .agg(F.count("*").alias("n_both"))
    )
    est = (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .crossJoin(rho)
        .select(
            _kmv_est("n_a", "hk_a", k).alias("d_a_est"),
            _kmv_est("n_b", "hk_b", k).alias("d_b_est"),
            _kmv_est("n_u", "hk_u", k).alias("d_union_est"),
            F.col("n_both"),
            F.col("n_u"),
        )
    )
    return est.select(
        "d_a_est",
        "d_b_est",
        "d_union_est",
        F.expr("n_both * d_union_est div n_u").alias("d_intersect_est"),
        F.expr("1000000 * n_both div n_u").alias("jaccard_ppm"),
    )
