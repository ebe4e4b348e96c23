"""Raw log-file source (SURVEY.md §2.1 S6).

Reference behavior (src/parse/log_parser.py:189-217,289-294): glob
``*.log`` / ``*.log.gz`` under a directory, read lazily line by line,
attach per-row lineage (``source_file``, ``line_number``).

Spark mapping: ``spark.read.text`` decompresses ``.gz`` transparently and
plans one split per gzip file (gzip is unsplittable — at 100 TB prefer
zstd/parquet landing zones; this source exists for reference parity).
``source_file`` is the scan's file path with a local ``file:`` scheme
stripped, so it equals what :func:`list_log_files` returned (the same
path the checkpoint keys its units by); ``line_number`` (1-based,
per file) is a counter within each split (file, ``file_block_start``)
plus the line count of the file's earlier splits, so it stays exact when
a plain file larger than ``spark.sql.files.maxPartitionBytes`` is split.

Object stores (reference src/sync/s3_sync.py:62-243 downloads S3 objects
to local disk first): Spark reads buckets in place — pass ``s3a://bucket/
prefix`` anywhere this module takes a path and the same jobs run
unchanged.  Deploy-time requirements (not shipped in this sandbox, no
network): ``hadoop-aws`` + ``aws-java-sdk-bundle`` on the classpath
(``spark-submit --packages org.apache.hadoop:hadoop-aws:<hadoop-ver>``)
and credentials via the default provider chain or
``spark.hadoop.fs.s3a.access.key`` / ``.secret.key`` confs; the
incremental skip-list (plans/checkpoint.py) replaces the reference's
download-dedup, so no local sync step exists at all.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_REMOTE_SCHEMES = ("s3a://", "s3://", "gs://", "abfss://", "hdfs://")


def list_log_files(log_dir: str) -> list[str]:
    """Reference glob: ``*.log`` + ``*.log.gz``, sorted for determinism.

    Remote URIs are returned as Hadoop glob patterns (expanded by the
    scan itself — object-store listing belongs in the cluster's
    FileSystem client, not in driver-side Python)."""
    if log_dir.startswith(_REMOTE_SCHEMES):
        base = log_dir.rstrip("/")
        return [f"{base}/**/*.log", f"{base}/**/*.log.gz"]
    return sorted(
        glob.glob(os.path.join(log_dir, "**", "*.log"), recursive=True)
        + glob.glob(os.path.join(log_dir, "**", "*.log.gz"), recursive=True)
    )


def read_log_lines(
    spark: SparkSession, path_or_files: str | list[str], line_numbers: bool = True
) -> DataFrame:
    """Lines + lineage columns from text/gzip log files."""
    files = (
        list_log_files(path_or_files)
        if isinstance(path_or_files, str)
        else list(path_or_files)
    )
    df = (
        spark.read.text(files)
        .withColumn("source_file", F.regexp_replace(F.input_file_name(), r"^file:/+", "/"))
        .withColumnRenamed("value", "text")
    )
    if not line_numbers:
        return df
    split = ["source_file", "_block"]
    df = df.withColumn("_block", F.col("_metadata.file_block_start"))

    def _number(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # running counter per split: a split's lines are contiguous and in
        # file order within its partition (gzip files are one split)
        counts: dict[tuple[str, int], int] = {}
        for pdf in batches:
            nums = []
            for key in zip(pdf["source_file"], pdf["_block"]):
                counts[key] = counts.get(key, 0) + 1
                nums.append(counts[key])
            yield pdf.assign(_n=pd.Series(nums, index=pdf.index, dtype="int64"))

    numbered = df.mapInPandas(
        _number, schema="text string, source_file string, _block long, _n long"
    )
    # lines in the file's earlier splits: one row per split, broadcast back
    # to the numbered lines, which are never shuffled
    earlier = Window.partitionBy("source_file").orderBy("_block").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = df.groupBy(*split).count().select(
        *split, F.coalesce(F.sum("count").over(earlier), F.lit(0)).alias("_offset")
    )
    return numbered.join(F.broadcast(offsets), split).select(
        "text", "source_file", (F.col("_n") + F.col("_offset")).alias("line_number")
    )
