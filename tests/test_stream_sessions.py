"""Streaming sessionization: cross-batch session MERGING.

The registered query (`streaming_ip_sessions`) is oracled against the
batch ``ip_sessions``' lag+cumsum DuckDB SQL by the full parity
sweep; these tests pin the property the sweep cannot see — that the
session_window state store merges ONE logical session whose events are
split across micro-batches (and arrive out of event-time order), which
a within-batch-only sessionizer would report as several sessions.
"""

import os

import pyarrow as pa
import pyarrow.parquet as papq

from python_fastly_log_query_spark.streaming import jobs as SJ

BASE = 1_700_000_000


def _write_files(path: str, rows_per_file: list[list[tuple[str, int]]]) -> None:
    """One parquet file per inner list of (ip, epoch-sec) rows, with
    strictly increasing mtimes so maxFilesPerTrigger=1 replays them one
    micro-batch per file in THIS order (which the tests deliberately
    make different from event-time order)."""
    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(rows_per_file):
        papq.write_table(
            pa.table(
                {
                    "ip_address": pa.array([r[0] for r in rows], pa.string()),
                    "ts": pa.array([BASE + r[1] for r in rows], pa.int64()),
                }
            ),
            f"{path}/f{i:02d}.parquet",
        )
        t = BASE + i * 60
        os.utime(f"{path}/f{i:02d}.parquet", (t, t))


def _drain_sessions(spark, src: str, ckpt: str, name: str):
    stream = SJ.stream_docs(
        spark, src, schema="ip_address string, ts long", max_files_per_trigger=1
    ).selectExpr("ip_address", "CAST(ts AS TIMESTAMP) AS timestamp")
    q = SJ.run_available_now(
        SJ.session_rollup(stream), ckpt, queryName=name, outputMode="complete"
    )
    return spark.table(name), q


def test_one_session_straddles_every_batch(spark, tmp_path):
    """12 events on one IP, 600s apart (all within the 1800s gap), TWO
    per file in REVERSED file order: every adjacent pair of events lands
    in a different micro-batch, and later batches carry EARLIER event
    times.  Only a state store that merges sessions across batches (and
    tolerates out-of-order arrival) can produce the single true session;
    a per-batch sessionizer would report 6."""
    src = str(tmp_path / "src")
    files = [
        [("10.0.0.1", (10 - 2 * i) * 600), ("10.0.0.1", (11 - 2 * i) * 600)]
        for i in range(6)
    ]
    _write_files(src, files)

    sessions, q = _drain_sessions(
        spark, src, str(tmp_path / "ckpt"), "sess_straddle"
    )
    rows = sessions.collect()
    assert len(rows) == 1, rows
    assert rows[0]["hits"] == 12 and rows[0]["span_sec"] == 11 * 600, rows
    # the merge was genuinely incremental: one micro-batch per file
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 6


def test_gap_splits_and_matches_batch(spark, tmp_path):
    """Two IPs, one with a >1800s idle gap (two sessions) and one
    without (one session), split across 4 unordered files: the drained
    streaming state must equal the BATCH session_window aggregate over
    the union of the files — the batch-equality contract the registered
    query holds against the DuckDB oracle."""
    src = str(tmp_path / "src")
    a = [("a", t) for t in (0, 1800, 3600, 9000, 9001)]  # 3600->9000 gap 5400
    b = [("b", t) for t in (100, 1900, 3700)]
    rows = a + b
    files = [rows[i::4] for i in range(4)]  # interleaved, not time-ordered
    _write_files(src, files)

    sessions, _ = _drain_sessions(spark, src, str(tmp_path / "ckpt"), "sess_gap")
    got = {
        (r["ip_address"], r["hits"], r["span_sec"])
        for r in sessions.collect()
    }
    assert got == {("a", 3, 3600), ("a", 2, 1), ("b", 3, 3600)}, got

    batch = SJ.session_rollup(
        spark.read.parquet(src).selectExpr(
            "ip_address", "CAST(ts AS TIMESTAMP) AS timestamp"
        )
    )
    want = {
        (r["ip_address"], r["hits"], r["span_sec"]) for r in batch.collect()
    }
    assert got == want
