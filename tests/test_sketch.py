"""Count-min sketch contracts (operators/sketch.py): the never-undercount
guarantee, the bounded sketch size that makes the shuffle O(depth*width)
per task, and the plan shapes the docstrings claim (map-side partial
aggregation = the per-partition sketch; broadcast estimate join)."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMALL

from python_fastly_log_query_spark.operators.sketch import (
    cms_estimate,
    cms_sketch,
)


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_cms_never_undercounts_and_conserves_mass(spark):
    # deliberately narrow sketch (width 32 << 38 distinct keys) so
    # collisions are guaranteed — the guarantee must hold anyway
    data = [(f"k{i % 37}",) for i in range(2000)] + [("hot",)] * 500
    df = spark.createDataFrame(data, ["k"])
    depth, width = 4, 32
    sk = cms_sketch(df, "k", depth, width).cache()
    try:
        assert sk.count() <= depth * width
        # every row landed in exactly one bucket per depth
        per_depth = sk.groupBy("depth").agg(F.sum("cnt").alias("s")).collect()
        assert len(per_depth) == depth
        assert all(r["s"] == len(data) for r in per_depth)

        exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("exact"))
        rows = cms_estimate(sk, exact, "k", depth, width).collect()
        assert len(rows) == 38
        assert all(r["cms_est"] >= r["exact"] for r in rows)
        # the hot key dominates its cells, so its estimate is tight
        hot = next(r for r in rows if r["k"] == "hot")
        assert hot["exact"] == 500
    finally:
        sk.unpersist()


def test_approx_quantiles_contract_plan_and_result(spark):
    """The GK contract query must hold its claimed plan shape: the
    sketch frame joins back over events as a BroadcastHashJoin (it is
    group-count-sized), and the verdict is true on real data."""
    from python_fastly_log_query_spark.queries import (
        q_approx_quantiles_contract,
    )

    df = q_approx_quantiles_contract(spark, SF_SMALL)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["all_within_bounds"] is True
    assert rows[0]["groups"] > 0


def test_cms_plans_partial_agg_and_broadcast_join(spark):
    df = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        F.col("event_type").alias("k")
    )
    sk = cms_sketch(df, "k", 4, 64)
    # map-side combine: each task pre-merges into its local sketch, so
    # the shuffle carries <= depth*width rows per task
    assert "partial_count" in _plan(sk)

    est = cms_estimate(sk, df.distinct(), "k", 4, 64)
    plan = _plan(est)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------------------------ KMV


def test_kmv_bottom_k_is_distinct_bottom_k(spark):
    """The partition-local Arrow fold + final merge must equal the exact
    distinct bottom-k, with duplicates both within and across
    partitions."""
    from python_fastly_log_query_spark.operators.sketch import kmv_bottom_k

    vals = [(int(v),) for v in [9, 3, 3, 7, 1, 1, 1, 8, 5, 5, 2, 9, 4, 6, 2]]
    df = spark.createDataFrame(vals, ["h"]).repartition(5)
    got = [r["h"] for r in kmv_bottom_k(df, 4).collect()]
    assert got == [1, 2, 3, 4]
    # not-full sketch returns the whole distinct set, sorted
    got_all = [r["h"] for r in kmv_bottom_k(df, 100).collect()]
    assert got_all == sorted({v for (v,) in vals})


def test_kmv_estimates_within_tolerance(spark):
    """Estimator accuracy on sets with KNOWN distinct counts and overlap:
    A = [0, 60k), B = [30k, 90k) -> union 90k, intersection 30k.  With
    k=256 the expected relative error is ~1/sqrt(k) ~= 6%; assert 20%."""
    from python_fastly_log_query_spark.operators.sketch import (
        kmv_hash,
        kmv_overlap,
    )

    a = spark.range(0, 60_000).select(kmv_hash(F.col("id").cast("string")).alias("h"))
    b = spark.range(30_000, 90_000).select(
        kmv_hash(F.col("id").cast("string")).alias("h")
    )
    (row,) = kmv_overlap(a, b, k=256).collect()
    assert abs(row["d_a_est"] - 60_000) / 60_000 < 0.20
    assert abs(row["d_b_est"] - 60_000) / 60_000 < 0.20
    assert abs(row["d_union_est"] - 90_000) / 90_000 < 0.20
    assert abs(row["d_intersect_est"] - 30_000) / 30_000 < 0.25
    assert abs(row["jaccard_ppm"] - 333_333) / 333_333 < 0.25


def test_kmv_registered_query_accuracy(spark):
    """The registered kmv_shingle_overlap estimates stay within 15% of
    the exact distinct-shingle counts at the parity scale (exact values
    computed in-engine — the corpus vocabulary saturates, so counts are
    stable across scales)."""
    from python_fastly_log_query_spark.operators.dedup import word_shingles
    from python_fastly_log_query_spark.queries import _REGISTRY

    (row,) = _REGISTRY["kmv_shingle_overlap"][0](spark, SF_SMALL).collect()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    base = docs.select(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("hx"),
        F.explode(word_shingles(F.col("text"))).alias("s"),
    )
    da = base.filter(F.col("hx") < "c").select("s").distinct().count()
    db = base.filter(F.col("hx") >= "4").select("s").distinct().count()
    du = base.select("s").distinct().count()
    di = (
        base.filter(F.col("hx") < "c")
        .select("s")
        .intersect(base.filter(F.col("hx") >= "4").select("s"))
        .count()
    )
    assert abs(row["d_a_est"] - da) / da < 0.15
    assert abs(row["d_b_est"] - db) / db < 0.15
    assert abs(row["d_union_est"] - du) / du < 0.15
    # the intersection estimate compounds two estimators (membership
    # fraction x union estimate), so its tolerance is wider — measured
    # 5.5% at sf0.001 and 18.7% at sf0.01 against k=256's ~6% base sigma
    assert abs(row["d_intersect_est"] - di) / di < 0.25


def test_kmv_partition_state_bounded(spark):
    """Each partition emits at most k rows into the final merge — the
    property that keeps the full distinct set off the wire."""
    from python_fastly_log_query_spark.operators.sketch import kmv_bottom_k

    df = spark.range(0, 50_000).select(
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 10), 16, 10)
        .cast("long")
        .alias("h")
    ).repartition(8)
    plan = kmv_bottom_k(df, 64)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    # replicate the partial stage and count its per-partition output
    from pyspark.sql.functions import spark_partition_id

    def fold(batches):
        import numpy as np
        import pyarrow as pa

        state = np.empty(0, dtype=np.int64)
        for batch in batches:
            state = np.unique(np.concatenate([state, batch.column("h").to_numpy()]))[:64]
        yield pa.RecordBatch.from_arrays([pa.array(state)], names=["h"])

    per_part = (
        df.select("h").mapInArrow(fold, "h long")
        .groupBy(spark_partition_id().alias("p"))
        .count()
        .agg(F.max("count").alias("m"))
        .collect()[0]["m"]
    )
    assert per_part <= 64


def test_kmv_one_pass_dual_sketch_equals_two_pass(spark):
    """kmv_bottom_k_sides / kmv_overlap_flagged: one scan with
    membership flags must produce bit-identical sketches and estimates
    to two independent kmv_bottom_k passes."""
    from python_fastly_log_query_spark.operators.sketch import (
        kmv_bottom_k,
        kmv_bottom_k_sides,
        kmv_hash,
        kmv_overlap,
        kmv_overlap_flagged,
    )

    base = spark.range(0, 40_000).select(
        kmv_hash(F.col("id").cast("string")).alias("h"),
        (F.col("id") < 30_000).alias("in_a"),
        (F.col("id") >= 10_000).alias("in_b"),
    ).repartition(8)
    sides = {
        (r["side"], r["h"]) for r in kmv_bottom_k_sides(base, 64).collect()
    }
    a = base.filter("in_a").select("h")
    b = base.filter("in_b").select("h")
    want = {("a", r["h"]) for r in kmv_bottom_k(a, 64).collect()} | {
        ("b", r["h"]) for r in kmv_bottom_k(b, 64).collect()
    }
    assert sides == want
    (got,) = kmv_overlap_flagged(base, k=64).collect()
    (ref,) = kmv_overlap(a, b, k=64).collect()
    assert tuple(got) == tuple(ref)
