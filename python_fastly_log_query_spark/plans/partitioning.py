"""Partition and file layout planners: input spreading, z-order keys and
bins, small-file compaction bins, missing-day audit and table statistics.

Day partitioning (SURVEY.md §2.1 S4; the reference iterates S3 prefixes
day by day, src/sync/s3_sync.py:113-123) is not offered: ``cli parse
--incremental`` keeps a per-file skip list in its checkpoint
(plans/checkpoint.py), which replaces day-prefix iteration, and
``--last-hours`` (plans/lasthours.py) is a row filter on the parsed
timestamp, not partition pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame) -> DataFrame:
    """Ensure a compute-heavy operator sees enough input partitions to use
    the cluster: fewer than half of defaultParallelism (and at least 2)
    input partitions get a repartition to defaultParallelism.

    Small-file inputs (one parquet file = one split) otherwise serialize an
    expensive projection onto a single task — measured 264s -> 2.4s for
    MinHash signatures over a 5000-row single-file table at local[32]
    (together with the hash-once materialization in dedup.py).  At
    production scale the scan already has >= defaultParallelism partitions
    and this is a no-op (plan inspection only, no shuffle).
    """
    if df.isStreaming:
        # no static partition count to inspect; micro-batch splits come
        # from maxFilesPerTrigger / source partitioning instead
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


# ------------------------------------------------------- z-order layout


def zorder_key(x, y, bits: int = 8):
    """Morton/z-order interleave of two non-negative integer columns
    (``bits`` bits each) — the multi-dimensional clustering key behind
    OPTIMIZE ZORDER-style layout: rows near each other in (x, y) land
    near each other in z, so range predicates on EITHER dimension prune
    contiguous file ranges after a sort/bin by z.

    Bit i of x lands at z-bit 2i, of y at 2i+1 — expressed as pure
    div/mod/multiply integer arithmetic (no engine bitwise builtins),
    so the key is bit-identical everywhere a BIGINT is a BIGINT."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        bx = (x.cast("long") / (1 << i)).cast("long") % 2
        by = (y.cast("long") / (1 << i)).cast("long") % 2
        z = z + bx * (1 << (2 * i)) + by * (1 << (2 * i + 1))
    return z


def zorder_key_sql(x: str, y: str, bits: int = 8) -> str:
    """DuckDB twin of :func:`zorder_key`."""
    terms = []
    for i in range(bits):
        terms.append(f"(({x}) // {1 << i}) % 2 * {1 << (2 * i)}")
        terms.append(f"(({y}) // {1 << i}) % 2 * {1 << (2 * i + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def zorder_bins(df, x: str, y: str, bits: int = 8, bin_shift: int = 6):
    """Per-z-bin layout report: assign every row the z-order bin
    ``z div 2^bin_shift`` and report per-bin row counts plus the x/y
    spans the bin actually covers — the write-side clustering audit
    (small spans per bin = good pruning for both dimensions).

    The sort a real OPTIMIZE would do is by ``z`` itself; binning here
    keeps the report bins-sized.  One map-only key computation + one
    map-side-combined rollup."""
    from pyspark.sql import functions as F

    z = zorder_key(F.col(x), F.col(y), bits)
    return (
        df.select(
            (z / (1 << bin_shift)).cast("long").alias("bin"),
            z.alias("_z"),
            F.col(x).cast("long").alias("_x"),
            F.col(y).cast("long").alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("_z").alias("z_min"),
            F.max("_z").alias("z_max"),
            (F.max("_x") - F.min("_x")).alias("x_span"),
            (F.max("_y") - F.min("_y")).alias("y_span"),
        )
    )


def compaction_bins(
    files: DataFrame,
    target_bytes: int,
    part_col: str = "day",
    file_col: str = "file",
    size_col: str = "bytes",
) -> DataFrame:
    """Small-file compaction planner (Iceberg ``rewrite_data_files``
    binpack / Delta OPTIMIZE shape): group each partition's files into
    rewrite bins of ~``target_bytes`` so a maintenance job can coalesce
    thousands of trickle-written small files into scan-efficient ones.

    Packing rule: files ordered by (size DESC, name ASC), each file's
    bin is its EXCLUSIVE running-sum start offset ``div target`` — the
    same greedy sequential packing Spark's own FilePartition planner
    uses for input splits (maxPartitionBytes), made deterministic by
    the total ordering.  Unlike first-fit-decreasing it is a pure
    window expression (no per-bin state), and it keeps FFD's fill
    guarantee in amortized form: for every non-final bin ``b``, the
    cumulative bytes through bin ``b`` equal the next bin's first-file
    start offset, which is ``>= (b+1) * target_bytes`` — so k bins
    always hold >= k targets of data (an individual bin can come up
    short only by what its predecessor's last file spilled past the
    boundary), and rewrite output-file count is bounded by
    ``total/target + n_partitions``.

    Scale: this plans over FILE METADATA, not data — a 100 TB table at
    128 MB files is ~10^6 rows.  One shuffle by ``part_col`` (window
    partition = files-per-day, thousands at most); the integer ``div``
    keeps bin ids exact where float floor(start/target) could misplace
    a boundary file past 2^53 bytes of partition cumsum.
    """
    from pyspark.sql import Window

    if int(target_bytes) <= 0:
        # 0 would div-by-zero into all-NULL bins (every file silently
        # collapsing into one NULL bin per partition); negatives yield
        # negative bin ids — both violate the documented fill invariant
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")

    w = (
        Window.partitionBy(part_col)
        .orderBy(F.col(size_col).desc(), F.col(file_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(size_col).over(w), F.lit(0)).cast("long")
    return files.withColumn("_start", start).withColumn(
        "bin", F.expr(f"_start div {int(target_bytes)}L")
    ).drop("_start")


def missing_days(df, ts_col: str = "ts"):
    """Backfill planner: calendar days between the table's min and max
    event day with NO rows present — the gap list an ingestion scheduler
    re-queues (a day partition that silently failed to land is invisible
    to every downstream rollup; this makes it a first-class row).

    Plan: one min/max aggregate (1 row), explode the day sequence from
    it (bounded by the calendar span, never row count), LEFT ANTI join
    against the distinct present days — both sides day-cardinality,
    broadcastable at any corpus size.
    """
    from pyspark.sql import functions as F

    present = df.select(F.to_date(ts_col).alias("d")).distinct()
    rng = df.agg(
        F.min(F.to_date(ts_col)).alias("lo"), F.max(F.to_date(ts_col)).alias("hi")
    )
    expected = rng.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    )
    return (
        expected.join(present, "d", "left_anti")
        .select(F.date_format("d", "yyyy-MM-dd").alias("missing_day"))
    )


# ------------------------------------------------------- table statistics

def table_stats(df: DataFrame, columns: list[str]) -> DataFrame:
    """ANALYZE-style per-column statistics — the numbers a cost-based
    optimizer (and a human sizing shuffles) reads before planning:
    row count, exact distinct count, null count, and min/max rendered
    as strings (type-uniform output).  One row per column.

    At fleet scale the exact ``count_distinct`` is the expensive term;
    the sketch path is the existing HLL contract query
    (``approx_distinct_ips_per_path``) — this operator is the exact
    twin a small-table ANALYZE runs.

    Plan (opt r6): the count/null/min/max stats ride ONE hash
    aggregate over the scan; each NDV is its OWN column-pruned
    two-phase distinct aggregate, attached via 1-row broadcast cross
    joins.  The previous shape put all k distincts in one aggregate,
    which Spark plans as an Expand multiplying every row (k+1)x into a
    sort-based aggregate (strings in the buffer) — measured 1.64s vs
    0.51-0.67s for the split shape at sf0.1; on a columnar store the
    per-NDV scans each read one column, so total bytes are unchanged
    at any scale."""
    base_aggs = [F.count(F.lit(1)).cast("long").alias("_rows")]
    for c in columns:
        base_aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"_nulls_{c}"),
            # min/max over the NATIVE type, rendered after — a string-
            # typed min would order "10" < "9" and diverge from the SQL
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
    one = df.agg(*base_aggs)
    for c in columns:
        ndv = df.agg(F.count_distinct(F.col(c)).cast("long").alias(f"_ndv_{c}"))
        one = one.crossJoin(F.broadcast(ndv))
    rows = []
    for c in columns:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("_rows").alias("n_rows"),
                F.col(f"_ndv_{c}").alias("ndv"),
                F.col(f"_nulls_{c}").alias("n_nulls"),
                F.col(f"_min_{c}").alias("min_str"),
                F.col(f"_max_{c}").alias("max_str"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


def table_stats_sql(columns: list[str], table: str = "events") -> str:
    """DuckDB oracle for :func:`table_stats` — same exact aggregates,
    same string rendering of min/max (CAST AS VARCHAR)."""
    arms = []
    for c in columns:
        arms.append(f"""
SELECT '{c}' AS column,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(min({c}) AS VARCHAR) AS min_str,
       CAST(max({c}) AS VARCHAR) AS max_str
FROM {table}""")
    return "\nUNION ALL\n".join(arms)
