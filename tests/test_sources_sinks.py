"""Sources/sinks + routing fan-out + kill-resume lineage (SURVEY.md §5.4).

Covers: gzip/text log-file source with per-row lineage (S6), JSON/CSV
round-trips incl. the query_params map (S7-S9), partition-property of the
routed fan-out writer (S12 / north star), and the checkpoint module's
skip-completed / crash-idempotency behavior (S11 / north rule).
"""

from __future__ import annotations

import gzip
import itertools
import json
import os

import pytest
from pyspark.sql import functions as F

from python_fastly_log_query_spark.operators.parse import parse_logs
from python_fastly_log_query_spark.operators.route import (
    routed_counts,
    with_route,
    write_routed,
)
from python_fastly_log_query_spark.plans import checkpoint as ck
from python_fastly_log_query_spark.sources import sinks
from python_fastly_log_query_spark.sources.logfiles import list_log_files, read_log_lines

LINE = (
    '<134>2025-11-01T10:00:{s:02d}Z cache-sjc s3logsprod[4242]: 10.1.2.{s} "-" "-" - '
    '"GET /api/search?page={s}&sort=asc" {code} 5120 "-" "curl/8.4.0" hit'
)


def _write_logs(tmpdir: str, n_files: int = 3, lines_per: int = 5) -> list[str]:
    files = []
    for i in range(n_files):
        lines = [
            LINE.format(s=i * lines_per + j, code=200 if j % 2 == 0 else 404)
            for j in range(lines_per)
        ]
        if i % 2 == 0:
            p = os.path.join(tmpdir, f"f{i}.log")
            with open(p, "w") as f:
                f.write("\n".join(lines) + "\n")
        else:
            p = os.path.join(tmpdir, f"f{i}.log.gz")
            with gzip.open(p, "wt") as f:
                f.write("\n".join(lines) + "\n")
        files.append(p)
    return files


# ---------------------------------------------------------------- S6


def test_log_file_source_lineage(spark, tmp_path):
    d = str(tmp_path / "logs")
    os.makedirs(d)
    _write_logs(d)
    assert len(list_log_files(d)) == 3
    df = read_log_lines(spark, d)
    rows = df.collect()
    assert len(rows) == 15
    # per-file line numbers are 1..5, gzip files included
    by_file: dict[str, list[int]] = {}
    for r in rows:
        by_file.setdefault(os.path.basename(r.source_file), []).append(r.line_number)
    assert len(by_file) == 3
    for nums in by_file.values():
        assert sorted(nums) == [1, 2, 3, 4, 5]


def test_line_numbers_span_the_splits_of_one_file(spark, tmp_path):
    """A plain file larger than maxPartitionBytes is read in several
    splits; its numbering must not restart in each one."""
    d = tmp_path / "logs"
    d.mkdir()
    big = [LINE.format(s=n % 60, code=200) + f" n={n}" for n in range(1, 2001)]
    (d / "big.log").write_text("\n".join(big) + "\n")
    with gzip.open(d / "small.log.gz", "wt") as f:
        f.write("\n".join(f"gz n={n}" for n in range(1, 301)) + "\n")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(16 * 1024))
    try:
        df = read_log_lines(spark, str(d))
        assert df.rdd.getNumPartitions() > 2
        rows = df.collect()
    finally:
        spark.conf.set(key, old)
    assert len(rows) == 2300
    assert all(r.line_number == int(r.text.rsplit("n=", 1)[1]) for r in rows)


# ---------------------------------------------------------------- S7-S9


@pytest.fixture(scope="module")
def parsed_small(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("logs"))
    _write_logs(d)
    return parse_logs(read_log_lines(spark, d, line_numbers=False), "text").cache()


def _canon(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(str(row[c]) for c in cols) for row in df.collect()
    )


def test_json_roundtrip(spark, parsed_small, tmp_path):
    p = str(tmp_path / "out.json")
    sinks.write_json(parsed_small, p)
    back = sinks.read_json(spark, p)
    assert back.count() == parsed_small.count()
    keep = ["ip_address", "path", "status_code", "query_params", "timestamp"]
    assert _canon(back.select(*keep)) == _canon(parsed_small.select(*keep))


def test_csv_roundtrip_map_column(spark, parsed_small, tmp_path):
    p = str(tmp_path / "out.csv")
    sinks.write_csv(parsed_small, p)
    back = sinks.read_csv(spark, p)
    assert back.count() == parsed_small.count()
    qp = {r.page for r in back.select(F.col("query_params")["page"].alias("page")).collect()}
    assert qp == {str(i) for i in range(15)}


# ---------------------------------------------------------------- S12 routing


def test_routed_fanout_partitions_input(spark, parsed_small, tmp_path):
    base = str(tmp_path / "routed")
    routed = write_routed(parsed_small, base, "status_class")
    total = parsed_small.count()
    counts = {r.route: r.rows for r in routed_counts(parsed_small, "status_class").collect()}
    # per-sink counts partition the input
    assert sum(counts.values()) == total
    assert set(counts) == {"2xx", "4xx"}
    # sinks on disk agree row-for-row with the route predicate
    back = spark.read.parquet(base)
    disk_counts = {r.route: r.cnt for r in back.groupBy("route").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert disk_counts == counts
    # routed-row equality: every 4xx row in the sink satisfies the rule
    assert back.filter((F.col("route") == "4xx") & ~F.col("status_code").between(400, 499)).count() == 0
    # full row-level equality (north rule: routed-row equality with
    # byte-identical extracted text): the union of sinks is exactly the
    # input row multiset, every column included (maps via to_json — set
    # ops reject MapType)
    def _rows(df):
        cols = [
            F.to_json(c).alias(c) if c == "query_params" else F.col(c)
            for c in sorted(df.columns)
            if c != "route"
        ]
        return sorted(map(str, df.select(*cols).collect()))

    assert _rows(back) == _rows(parsed_small)


# ---------------------------------------------------------------- S11 resume


def test_incremental_resume_skips_completed(spark, tmp_path):
    logs = str(tmp_path / "logs")
    out = str(tmp_path / "out")
    os.makedirs(logs)
    _write_logs(logs, n_files=2)

    def transform(df):
        return parse_logs(df, "text", passthrough=["source_file"])

    files = list_log_files(logs)
    s1 = ck.run_incremental(spark, files, out, transform)
    assert (s1["processed_units"], s1["skipped_units"]) == (2, 0)
    assert ck.read_output(spark, out).count() == 10

    # new file arrives; rerun processes ONLY it
    _write_logs(logs, n_files=3)  # rewrites f0,f1 identically; adds f2
    files = list_log_files(logs)
    s2 = ck.run_incremental(spark, files, out, transform)
    assert (s2["processed_units"], s2["skipped_units"]) == (1, 2)
    assert ck.read_output(spark, out).count() == 15
    # the batch's row count is the sum of its units' counts
    assert s1["rows_written"] == 10 and s2["rows_written"] == 5
    # lineage metrics recorded per unit
    recs = ck.completed_units(out)
    assert len(recs) == 3
    assert all(r["rows_out"] == 5 for r in recs.values())


def test_crash_between_sink_and_commit_is_idempotent(spark, tmp_path):
    """Simulate a kill after the sink write but before the lineage commit:
    the unit must re-run and produce identical output without duplicates."""
    logs = str(tmp_path / "logs")
    out = str(tmp_path / "out")
    os.makedirs(logs)
    _write_logs(logs, n_files=2)
    files = list_log_files(logs)

    def transform(df):
        return parse_logs(df, "text", passthrough=["source_file"])

    ck.run_incremental(spark, files, out, transform)
    # simulate the crash: delete ONE lineage record (sink data stays)
    recs = ck.completed_units(out)
    victim = sorted(recs)[0]
    os.remove(os.path.join(ck.lineage_dir(out), f"{victim}.json"))

    s = ck.run_incremental(spark, files, out, transform)
    assert s["processed_units"] == 1  # only the uncommitted unit re-ran
    assert ck.read_output(spark, out).count() == 10  # no duplicates
    assert len(ck.completed_units(out)) == 2


def test_all_digit_unit_id_counts_its_rows(spark, tmp_path):
    """A unit id of the digits 0-9 only must stay a string on read-back:
    inferred as a number, it missed the lineage record's string-keyed
    count lookup and recorded ``rows_out: 0``."""
    from pyspark.sql.types import StringType

    from python_fastly_log_query_spark import cli

    logs = tmp_path / "logs"
    logs.mkdir()
    path = next(
        p for p in (str(logs / f"f{i}.log") for i in itertools.count())
        if ck.unit_id(p).isdigit()
    )
    with open(path, "w") as f:
        f.write("\n".join(LINE.format(s=s, code=200) for s in range(2)) + "\n")
    out = str(tmp_path / "out")

    s = ck.run_incremental(spark, [path], out, cli._parse_unit)
    assert s["rows_written"] == 2
    assert [r["rows_out"] for r in s["records"]] == [2]
    back = ck.read_output(spark, out, cli._parsed_checkpoint())
    assert back.schema[ck.UNIT_COL].dataType == StringType()
    assert [r[ck.UNIT_COL] for r in back.collect()] == [ck.unit_id(path)] * 2


def test_list_log_files_remote_scheme_dispatch():
    """Object-store URIs must bypass the local glob (no driver-side
    listing) and come back as Hadoop glob patterns the scan expands
    cluster-side; local paths keep the sorted-glob contract."""
    for scheme in ("s3a://bucket/logs", "s3://b/x", "gs://b/x",
                   "abfss://c@a.dfs.core.windows.net/logs", "hdfs://nn/logs"):
        pats = list_log_files(scheme + "/")
        assert pats == [f"{scheme}/**/*.log", f"{scheme}/**/*.log.gz"]
    assert list_log_files("/definitely/missing/dir") == []


def test_signature_table_incremental_stage(spark, tmp_path):
    """The MinHash banding frame as a durable incremental stage: built
    per input file with kill-resume lineage, skipped on re-invocation,
    and the table-backed candidate join must (a) equal the in-session
    LSH pairs and (b) plan with NO InMemoryRelation — durable storage
    replaces the session persist."""
    import glob

    from python_fastly_log_query_spark.operators.dedup import (
        build_signature_table, candidate_pairs_from_table, lsh_candidate_pairs,
        release_persists,
    )
    from conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").repartition(4)
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    files = sorted(glob.glob(f"{src}/part-*.parquet"))
    assert len(files) == 4
    out = str(tmp_path / "sigs")

    s1 = build_signature_table(spark, files, out)
    assert (s1["processed_units"], s1["skipped_units"]) == (4, 0)
    s2 = build_signature_table(spark, files, out)
    assert (s2["processed_units"], s2["skipped_units"]) == (0, 4)

    from_table = {
        (r["doc_a"], r["doc_b"])
        for r in candidate_pairs_from_table(spark, out).collect()
    }
    in_session = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(spark.read.parquet(src)).collect()
    }
    release_persists()
    assert from_table == in_session

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        candidate_pairs_from_table(spark, out).explain("formatted")
    assert "InMemoryRelation" not in buf.getvalue()
