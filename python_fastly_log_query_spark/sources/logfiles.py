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
per file) is a per-partition counter, exact because unsplittable /
small-file inputs map one file to one partition.

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

    def _number(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-partition running counter; exact per file because a text
        # partition never spans files and gzip files never split
        counts: dict[str, int] = {}
        for pdf in batches:
            nums = []
            for f in pdf["source_file"]:
                counts[f] = counts.get(f, 0) + 1
                nums.append(counts[f])
            pdf = pdf.assign(line_number=pd.Series(nums, index=pdf.index, dtype="int64"))
            yield pdf

    return df.mapInPandas(_number, schema="text string, source_file string, line_number long")
