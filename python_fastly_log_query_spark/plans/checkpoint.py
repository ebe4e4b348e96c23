"""Per-unit lineage + metrics records enabling kill-resume (north rule;
reference analog: mtime-based incremental re-parse+merge,
scripts/parse_logs.py:311-390).

Unit of work = one input file (the natural re-parse granularity of the
reference and the partition-pruning granularity of a table scan).  For
each completed unit the pipeline leaves:

- its output rows under ``<out>/data/unit=<uid>/`` (dynamic partition
  overwrite — re-running a unit replaces exactly its own directory);
- a lineage record ``<out>/_lineage/<uid>.json`` with row counts and
  timing, committed ATOMICALLY (tmp + rename) strictly AFTER the sink
  write.

Crash safety: a kill between sink write and record commit leaves no
record, so the unit re-runs; because its sink directory is overwritten
in place, the rerun is idempotent — no duplicates, no loss.  A kill
anywhere else loses nothing.  Resume = list ``_lineage``, skip recorded
units, process the rest in ONE Spark job (not per-file jobs).

At cluster scale the same layout works unchanged: ``_lineage`` lives on
the object store; the atomic rename is a PUT; data subdirs map to table
partitions (Iceberg analog: per-file commit snapshots).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..sources.logfiles import read_log_lines

UNIT_COL = "unit"


def unit_id(path: str) -> str:
    return hashlib.md5(path.encode()).hexdigest()[:16]


def lineage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def data_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "data")


def completed_units(out_dir: str) -> dict[str, dict]:
    """uid -> lineage record for every committed unit."""
    d = lineage_dir(out_dir)
    if not os.path.isdir(d):
        return {}
    out = {}
    for name in os.listdir(d):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                rec = json.load(f)
            out[rec["unit"]] = rec
    return out


def _commit_record(out_dir: str, rec: dict) -> None:
    d = lineage_dir(out_dir)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{rec['unit']}.tmp")
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.rename(tmp, os.path.join(d, f"{rec['unit']}.json"))  # atomic commit


def run_incremental(
    spark: SparkSession,
    input_files: list[str],
    out_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    reader: Callable[[list[str]], DataFrame] | None = None,
) -> dict:
    """Process only not-yet-committed input files through ``transform``.

    ``reader`` loads a list of files into a DataFrame with a
    ``source_file`` column (defaults to the log-line source
    ``sources.logfiles.read_log_lines``, whose ``source_file`` is the input
    path as passed in).  Returns a summary dict with per-unit metrics for
    this invocation; ``rows_written`` is the sum of the per-unit counts.
    """
    if reader is None:
        def reader(files: list[str]) -> DataFrame:
            return read_log_lines(spark, files, line_numbers=False)

    done = completed_units(out_dir)
    uid_of = {f: unit_id(f) for f in input_files}
    todo = [f for f in input_files if uid_of[f] not in done]
    summary = {
        "total_units": len(input_files),
        "skipped_units": len(input_files) - len(todo),
        "processed_units": len(todo),
        "records": [],
    }
    if not todo:
        return summary

    t0 = time.time()
    df = reader(sorted(todo))
    out = transform(df).withColumn(
        UNIT_COL, F.substring(F.md5(F.col("source_file")), 1, 16)
    )
    # dynamic partition overwrite: only the units in this batch are
    # replaced.  Set per-write (ADVICE r1) so the shared session's
    # overwrite semantics for unrelated writes are untouched.
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(UNIT_COL)
        .parquet(data_dir(out_dir))
    )

    # per-unit metrics from the written data (one small agg job), then the
    # atomic lineage commits — strictly after the sink write
    counts = {
        r[UNIT_COL]: r["rows"]
        for r in read_output(spark, out_dir, out.schema)
        .filter(F.col(UNIT_COL).isin(list({uid_of[f] for f in todo})))
        .groupBy(UNIT_COL)
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    }
    summary["rows_written"] = sum(counts.values())
    wall = round(time.time() - t0, 3)
    for f in todo:
        rec = {
            "unit": uid_of[f],
            "input_file": f,
            "rows_out": int(counts.get(uid_of[f], 0)),
            "wall_sec_batch": wall,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        _commit_record(out_dir, rec)
        summary["records"].append(rec)
    return summary


def output_schema(data: StructType) -> StructType:
    """Schema of a checkpoint whose transform emits ``data``: its columns,
    then the ``unit`` partition column as a string."""
    return StructType([*data.fields, StructField(UNIT_COL, StringType())])


def read_output(
    spark: SparkSession, out_dir: str, schema: StructType | None = None
) -> DataFrame:
    """The checkpoint's rows.  With ``schema`` (see :func:`output_schema`)
    the read runs no schema-inference job and ``unit`` stays a string;
    inferred, a unit id of only digits reads back as a number."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(data_dir(out_dir))
