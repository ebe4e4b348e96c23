"""Changelog (CDC) operators: compact a change stream into its current
snapshot, and build the SCD2 validity-interval history.

Every warehouse that ingests a mutable upstream (a crawl frontier, a
page-metadata store, a config service emitting row-level change events)
needs exactly two derived tables from the change stream:

- the **current snapshot** — one row per key, the payload of the highest
  sequence number, keys whose latest change is a delete dropped (what a
  Delta/Iceberg ``MERGE INTO`` maintains incrementally); and
- the **SCD2 history** — one row per surviving version with its validity
  interval ``[valid_from, valid_to)`` (what a point-in-time audit or an
  as-of join consumes; see operators/asof.py for the lookup side).

Scale shape:

- :func:`compact_changelog` is ONE shuffle: ``groupBy(key).agg(max_by(
  struct(payload), seq))``.  ``max_by`` is an associative declarative
  aggregate, so map-side partials carry a single (seq, payload) pair per
  key per task — the shuffle write is bounded by (distinct keys ×
  tasks), never by changelog length.  No window, no join (struct-valued
  max_by plans as SortAggregate: partition-local sorts by group key,
  never a global sort).
- :func:`scd2_history` is one shuffle + one sort (a ``lead`` window per
  key ordered by seq).  A hot key serializes its window partition.

Determinism contract: ``seq`` must be UNIQUE per key (a changelog
position — Kafka offset, LSN, event id).  With unique seq both the
max_by and the lead window are total orders, so results are
bit-identical under any partitioning and replayable in SQL
(``arg_max`` / ``lead`` in DuckDB).

Reference analog: the incremental re-parse + merge contract of
/root/reference/scripts/parse_logs.py:311-390 (newest state wins per
unit), lifted from file granularity to row-level change semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def compact_changelog(
    log: DataFrame,
    key: str,
    seq: str,
    op: str = "op",
    delete_op: str = "delete",
    payload: list[str] | None = None,
) -> DataFrame:
    """Latest-wins snapshot of a changelog: one row per ``key`` carrying
    the ``payload`` of the row with the highest ``seq``; keys whose
    latest op is ``delete_op`` are dropped entirely.

    Output schema: ``key, last_seq, n_changes, *payload``.

    ``payload`` defaults to every column except key/seq/op.  ``seq``
    must be unique per key (ties would make latest-wins ill-defined).
    """
    if payload is None:
        payload = [c for c in log.columns if c not in (key, seq, op)]
    last = F.max_by(
        F.struct(F.col(op).alias("_op"), *[F.col(c) for c in payload]),
        F.col(seq),
    ).alias("_last")
    snap = log.groupBy(key).agg(
        last,
        F.max(seq).alias("last_seq"),
        F.count(F.lit(1)).alias("n_changes"),
    )
    return snap.filter(F.col("_last._op") != delete_op).select(
        key,
        "last_seq",
        "n_changes",
        *[F.col(f"_last.{c}").alias(c) for c in payload],
    )


def scd2_history(
    log: DataFrame,
    key: str,
    seq: str,
    op: str = "op",
    delete_op: str = "delete",
    valid_from: str = "ts",
    payload: list[str] | None = None,
) -> DataFrame:
    """SCD2 validity intervals: one row per UPSERT version with
    ``[valid_from, valid_to)`` where ``valid_to`` is the timestamp of
    the NEXT change of the key (upsert or delete — deletes close the
    interval but emit no version row) and NULL while still current.

    Output schema: ``key, seq, valid_from, valid_to, is_current,
    *payload`` — ``is_current`` is 1 on the open interval, 0 otherwise.
    A key whose latest change is a delete has no current version (every
    row 0), mirroring :func:`compact_changelog` dropping the key.
    """
    if payload is None:
        payload = [c for c in log.columns if c not in (key, seq, op, valid_from)]
    w = Window.partitionBy(key).orderBy(seq)
    versions = log.select(
        key,
        seq,
        F.col(op).alias("_op"),
        F.col(valid_from).alias("valid_from"),
        F.lead(valid_from).over(w).alias("valid_to"),
        *[F.col(c) for c in payload],
    )
    return versions.filter(F.col("_op") != delete_op).select(
        key,
        seq,
        "valid_from",
        "valid_to",
        F.when(F.col("valid_to").isNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "is_current"
        ),
        *payload,
    )
