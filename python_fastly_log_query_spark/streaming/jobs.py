"""Structured Streaming mode (SURVEY.md §2.9).

The reference is batch-only; its incremental sync/parse is file
micro-batching and ``--last-hours`` is a processing-time window.  The
streaming analogs here:

- ``stream_parse_docs``: a parquet landing table whose rows hold raw
  log lines (new files become micro-batches — the sync/parse loop without
  the cron), parsed by the same grok parser (its ``mapInArrow`` stage
  works unchanged on streaming DataFrames).
- ``hourly_rollup``: tumbling event-time window on the parsed timestamp
  with a watermark for late lines (G2 as a streaming aggregate).
- ``ip_request_rate_stream``: custom stateful operator via
  ``applyInPandasWithState`` — per-IP running request count + first/last
  seen, the streaming analog of G35.
- ``run_available_now``: catch-up execution (Trigger.AvailableNow) with a
  checkpoint dir — processes the backlog exactly once and stops, which is
  also how the batch kill-resume story extends to streams.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.parse import parse_logs


def stream_docs(
    spark: SparkSession,
    input_dir: str,
    schema: StructType | str = "doc_id long, text string, lang string, source string, n_chars long",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming source over a parquet TABLE directory (north rule: the
    input is an Iceberg/parquet table of web pages, not raw log files).
    New parquet files appended to the table directory become micro-batches;
    downstream parse/rollup operators are source-agnostic.

    File streams require an explicit schema (no inference at stream start);
    the default matches the documents table (TESTDATA.md).
    ``max_files_per_trigger`` caps files per micro-batch (honored by
    Trigger.AvailableNow too) — lets tests and backfills advance the
    watermark batch-by-batch instead of swallowing the backlog whole.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_parse_docs(
    spark: SparkSession,
    input_dir: str,
    line_col: str = "text",
    columns: list[str] | None = None,
    schema: StructType | str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Grok parse over a streaming parquet table whose ``line_col`` holds
    raw log lines.
    ``max_files_per_trigger`` forwards to :func:`stream_docs` so callers
    can force multi-batch drains (exercises cross-batch state)."""
    docs = stream_docs(
        spark,
        input_dir,
        **({"schema": schema} if schema is not None else {}),
        max_files_per_trigger=max_files_per_trigger,
    )
    return parse_logs(docs.select(F.col(line_col).alias("text")), "text", columns=columns)


def hourly_rollup(parsed: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour event-time rollup with late-data watermark (G2)."""
    return (
        parsed.filter(F.col("timestamp").isNotNull())
        .withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", "1 hour").alias("w"), "status_code")
        .agg(F.count(F.lit(1)).alias("requests"))
        .select(
            F.col("w.start").alias("hour"),
            "status_code",
            "requests",
        )
    )


def hopping_rollup(
    parsed: DataFrame,
    size: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Hopping (sliding) event-time rollup: every event contributes to
    the size/slide overlapping windows covering it — the moving-average
    view a live dashboard reads; watermark bounds the per-window state
    exactly as in :func:`hourly_rollup` (a window's state is evictable
    once the watermark passes its end)."""
    return (
        parsed.filter(F.col("timestamp").isNotNull())
        .withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", size, slide).alias("w"), "status_code")
        .agg(F.count(F.lit(1)).alias("requests"))
        .select(
            F.col("w.start").alias("win_start"),
            "status_code",
            "requests",
        )
    )


_IP_STATE_SCHEMA = StructType(
    [
        StructField("count", LongType()),
        StructField("first_ts", TimestampType()),
        StructField("last_ts", TimestampType()),
    ]
)

_IP_OUT_SCHEMA = StructType(
    [
        StructField("ip_address", StringType()),
        StructField("total_requests", LongType()),
        StructField("first_ts", TimestampType()),
        StructField("last_ts", TimestampType()),
    ]
)


def session_rollup(parsed: DataFrame, gap: str = "1800 seconds") -> DataFrame:
    """Gap-based sessionization ON THE STREAM (SURVEY §2.8's rule under
    Structured Streaming): the native ``session_window`` aggregate's
    state store MERGES a key's sessions as adjacent events arrive —
    including ACROSS micro-batches and out of event-time order — so the
    drained result equals the batch ``session_window`` aggregate no
    matter how the input is split into batches.  Complete output mode
    with no watermark is the exactly-once backfill/catch-up shape
    (state = all live sessions, one row per session per key); the
    production ingestion configuration adds ``withWatermark`` before
    the groupBy so sessions evict once the horizon passes their end —
    the same batch↔streaming dial as :func:`hourly_rollup`.

    The one sessionizer: the batch ``ip_sessions`` query runs this same
    aggregate over a static frame.  Rows with a null ip or timestamp
    belong to no session and are dropped.

    Gap: ``session_window`` merges an event into the current session iff
    event_time <= session_end (= last_event + gap; an event exactly one
    gap after the last one still merges), which is the "idle > 30 min
    starts a new session" rule at gap = 1800s.  A 1801s gap would also
    merge a 1801s idle; tests/test_aggregate_parity.py pins the
    1799/1800/1801 boundary against a lag + running-sum reference.
    """
    return (
        parsed.filter(
            F.col("ip_address").isNotNull() & F.col("timestamp").isNotNull()
        )
        .groupBy(F.session_window("timestamp", gap).alias("w"), "ip_address")
        .agg(
            F.count(F.lit(1)).alias("hits"),
            (
                F.max("timestamp").cast("long") - F.min("timestamp").cast("long")
            ).alias("span_sec"),
        )
    )


def _ip_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Running per-IP request count + observed time span (stateful G35)."""
    count, first_ts, last_ts = (state.get if state.exists else (0, None, None))
    for pdf in pdfs:
        ts = pd.to_datetime(pdf["timestamp"])
        count += len(pdf)
        lo, hi = ts.min(), ts.max()
        first_ts = lo if first_ts is None else min(first_ts, lo)
        last_ts = hi if last_ts is None else max(last_ts, hi)
    state.update((count, first_ts, last_ts))
    yield pd.DataFrame(
        [{"ip_address": key[0], "total_requests": count,
          "first_ts": first_ts, "last_ts": last_ts}]
    )


def ip_request_rate_stream(parsed: DataFrame) -> DataFrame:
    """Custom stateful operator: per-IP running totals across micro-batches."""
    return (
        parsed.filter(F.col("ip_address").isNotNull())
        .groupBy("ip_address")
        .applyInPandasWithState(
            _ip_state_fn,
            outputStructType=_IP_OUT_SCHEMA,
            stateStructType=_IP_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_within_watermark(
    docs: DataFrame,
    fp_col: str = "fp",
    ts_col: str = "event_ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """BOUNDED-state streaming dedup (VERDICT r3 item 3): drop duplicate
    fingerprints that arrive within the late-data horizon, the standard
    ingestion contract.  Unlike plain ``dropDuplicates`` — whose state
    holds every fingerprint ever seen, O(distinct docs) and an OOM at
    10^12 — ``dropDuplicatesWithinWatermark`` evicts a fingerprint's
    state once the event-time watermark passes its expiry, so state size
    is O(distinct fingerprints per horizon) regardless of stream length.

    Semantics: exact dedup for duplicates landing within ``watermark`` of
    the first occurrence; re-occurrences beyond the horizon re-emit (by
    design — at ingestion the horizon IS the dedup contract, and a
    periodic batch sweep or the durable signature table
    (operators/dedup.py:build_signature_table) handles cross-horizon
    duplicates).  The registered query's oracle is exact because the
    synthetic corpus's event times span less than the horizon.
    """
    return docs.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [fp_col]
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key_left: str,
    key_right: str,
    ts_left: str,
    ts_right: str,
    upper_seconds: int,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream INNER interval join — the attribution
    shape (reference analog: the per-IP error drill-downs of
    /root/reference/src/analyze/analytics.py joined against preceding
    traffic): match every right-stream event to the left-stream events
    with the same key whose timestamp precedes it by at most
    ``upper_seconds``.

    Both sides are buffered in the state store until the join can prove
    no future match exists, and BOTH watermarks drive eviction: a left
    row is droppable once the right watermark passes
    ``ts_left + upper_seconds``, a right row once the left watermark
    passes ``ts_right`` — so state size is O(events per horizon per
    side), not O(stream length).  Inner-join results emit immediately
    (append mode); only outer joins wait for the watermark.

    Exactness contract: rows later than ``watermark`` behind the
    stream's max event time can be evicted before their match arrives,
    so the horizon must exceed the stream's worst-case disorder.  Column
    names must be distinct across the two sides (rename before calling —
    Spark resolves the join condition on the combined schema).
    """
    lw = left.withWatermark(ts_left, watermark)
    rw = right.withWatermark(ts_right, watermark)
    cond = (
        (F.col(key_left) == F.col(key_right))
        & (F.col(ts_right) >= F.col(ts_left))
        & (
            F.col(ts_right)
            <= F.col(ts_left) + F.expr(f"INTERVAL {int(upper_seconds)} SECONDS")
        )
    )
    return lw.join(rw, cond, "inner")


def state_metrics(query: Any) -> list[dict]:
    """Per-micro-batch state-store metrics from a finished StreamingQuery:
    ``[{batch, state_rows, rows_updated, rows_removed}, ...]`` — the
    evidence that dedup state stays bounded (rows_removed > 0 proves
    watermark eviction is live)."""
    out = []
    for p in query.recentProgress:
        for so in p.get("stateOperators") or []:
            out.append(
                {
                    "batch": p.get("batchId"),
                    "operator": so.get("operatorName"),
                    "state_rows": so.get("numRowsTotal"),
                    "rows_updated": so.get("numRowsUpdated"),
                    "rows_removed": so.get("numRowsRemoved"),
                }
            )
    return out


def run_available_now(
    df: DataFrame,
    checkpoint_dir: str,
    queryName: str = "rollup",
    outputMode: str = "update",
) -> Any:
    """Drain the backlog into an in-memory table and stop (exactly-once
    per checkpoint).  Returns the finished StreamingQuery."""
    q = (
        df.writeStream.format("memory")
        .queryName(queryName)
        .outputMode(outputMode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


# ----------------------------------------------------- streaming CDC

_CDC_STATE_SCHEMA = StructType(
    [
        StructField("last_seq", LongType()),
        StructField("n_changes", LongType()),
        StructField("op", StringType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)

_CDC_OUT_SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("last_seq", LongType()),
        StructField("n_changes", LongType()),
        StructField("op", StringType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _cdc_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Latest-wins CDC state per key: (max seq, its payload, running
    change count) — the streaming MERGE INTO.  Arbitrary arrival order
    within and across micro-batches converges to the same state because
    max-by-seq is associative (seq is unique per key by contract)."""
    last_seq, n, op, et, val = (
        state.get if state.exists else (None, 0, None, None, None)
    )
    for pdf in pdfs:
        n += len(pdf)
        j = int(pdf["seq"].values.argmax())
        s = int(pdf["seq"].iloc[j])
        if last_seq is None or s > last_seq:
            last_seq = s
            op = pdf["op"].iloc[j]
            et = pdf["event_type"].iloc[j]
            val = float(pdf["value"].iloc[j])
    state.update((last_seq, n, op, et, val))
    yield pd.DataFrame(
        [
            {
                "k": key[0],
                "last_seq": last_seq,
                "n_changes": n,
                "op": op,
                "event_type": et,
                "value": val,
            }
        ]
    )


def cdc_materialize_stream(changes: DataFrame) -> DataFrame:
    """Streaming CDC materialization: the changelog stream keyed by
    ``k``, folded into latest-wins state per key across micro-batches
    (`applyInPandasWithState`) — what a `foreachBatch MERGE INTO` loop
    maintains, expressed as the engine-native stateful operator.  State
    is ONE row per live key (bounded by key cardinality, not stream
    length); each update emits the key's current snapshot row.  The
    batch-equality contract: after draining, the per-key row with the
    highest n_changes (strictly increasing per emission), deletes
    filtered, equals operators/cdc.py:compact_changelog on the same
    changelog — the registered query's oracle."""
    return changes.groupBy("k").applyInPandasWithState(
        _cdc_state_fn,
        outputStructType=_CDC_OUT_SCHEMA,
        stateStructType=_CDC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
