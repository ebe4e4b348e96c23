"""Layout planners of plans/partitioning.py: spread, z-order, missing days
and compaction bins."""

from __future__ import annotations


def test_spread_is_noop_on_well_partitioned_input(spark):
    """spread() must add a repartition only for under-partitioned scans —
    on production-shaped inputs it returns the frame unchanged (no shuffle
    inserted at 100 TB)."""
    from python_fastly_log_query_spark.plans.partitioning import spread

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, 1, target)
    assert spread(wide) is wide

    narrow = spark.range(0, 10_000, 1, 1)
    out = spread(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == target


def test_zorder_key_matches_python_interleave(spark):
    from pyspark.sql import functions as F

    from python_fastly_log_query_spark.plans.partitioning import zorder_key

    def py_z(x, y, bits=8):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    cases = [(0, 0), (1, 0), (0, 1), (3, 5), (255, 255), (170, 85)]
    df = spark.createDataFrame(cases, "x long, y long").select(
        "x", "y", zorder_key(F.col("x"), F.col("y"), 8).alias("z")
    )
    got = {(r.x, r.y): r.z for r in df.collect()}
    for x, y in cases:
        assert got[(x, y)] == py_z(x, y), (x, y, got[(x, y)], py_z(x, y))
    # interleave property: z(255,255) fills all 16 bits
    assert got[(255, 255)] == (1 << 16) - 1


def test_zorder_bins_have_bounded_spans(spark):
    from pyspark.sql import functions as F

    from python_fastly_log_query_spark.plans.partitioning import zorder_bins

    df = spark.range(4096).select(
        (F.col("id") % 256).alias("x"), ((F.col("id") * 7) % 256).alias("y")
    )
    out = zorder_bins(df, "x", "y", bits=8, bin_shift=6).collect()
    # a 64-wide z range covers at most an 8x8 (x, y) tile
    assert all(r.x_span <= 7 and r.y_span <= 7 for r in out)
    assert sum(r.n_rows for r in out) == 4096


def test_missing_days_finds_planted_gaps_and_none_when_full(spark):
    from datetime import datetime

    from pyspark.sql import functions as F

    from python_fastly_log_query_spark.plans.partitioning import missing_days

    rows = [
        (i, datetime(2024, 3, d, 12, 0, 0))
        for i, d in enumerate([1, 2, 4, 5, 8])  # gaps: 3, 6, 7
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    got = sorted(r["missing_day"] for r in missing_days(df, "ts").collect())
    assert got == ["2024-03-03", "2024-03-06", "2024-03-07"]
    # a gap-free table reports nothing
    full = spark.createDataFrame(
        [(i, datetime(2024, 3, 1 + i, 0, 0, 0)) for i in range(5)],
        "id long, ts timestamp",
    )
    assert missing_days(full, "ts").count() == 0


def test_compaction_bins_packing_and_fill_invariant(spark):
    """compaction_plan's planner: deterministic packing, python-replica
    equality, and the amortized fill invariant (cumulative bytes through
    any non-final bin b >= (b+1) * target)."""
    from python_fastly_log_query_spark.plans.partitioning import compaction_bins

    rows = [
        ("d1", f"f{i:02d}", sz)
        for i, sz in enumerate([1500, 900, 900, 100, 100, 60, 40, 7])
    ] + [("d2", "only", 5)]
    files = spark.createDataFrame(rows, "day string, file string, bytes long")
    out = compaction_bins(files, target_bytes=1024)
    got = {(r.day, r.file): r.bin for r in out.collect()}

    # python replica of the packing rule
    want = {}
    for day in ("d1", "d2"):
        start = 0
        for _, f, sz in sorted(
            (r for r in rows if r[0] == day), key=lambda r: (-r[2], r[1])
        ):
            want[(day, f)] = start // 1024
            start += sz
    assert got == want
    # a 1-file partition plans as a single bin 0
    assert got[("d2", "only")] == 0

    # fill invariant per partition
    agg = (
        out.groupBy("day", "bin")
        .sum("bytes")
        .withColumnRenamed("sum(bytes)", "bin_bytes")
        .collect()
    )
    by_day = {}
    for r in agg:
        by_day.setdefault(r.day, []).append((r.bin, r.bin_bytes))
    for day, bins in by_day.items():
        bins.sort()
        run = 0
        for i, (b, bb) in enumerate(bins):
            run += bb
            if i < len(bins) - 1:
                assert run >= (b + 1) * 1024, (day, b, run)
