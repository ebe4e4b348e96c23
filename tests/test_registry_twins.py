"""No new registry twins (checked without Spark): two registry names whose
DuckDB oracle SQL is byte-identical compute one result, so a second name
must add an execution mode or a check its partner lacks.  Each such group
is allowed only with the reason it is kept."""

from __future__ import annotations

from collections import defaultdict

from python_fastly_log_query_spark import queries

ALLOWED = {
    frozenset({"geoip_country_counts", "streaming_enriched_counts"}):
        "stream vs batch: the streaming name drains a micro-batch query",
    frozenset({"routed_status_class_counts", "streaming_routed_counts"}):
        "stream vs batch: the streaming name drains a micro-batch query",
    frozenset({"ip_sessions", "streaming_ip_sessions"}):
        "stream vs batch: the streaming name drains a micro-batch query",
    frozenset({"cdc_latest_snapshot", "streaming_cdc_snapshot"}):
        "stream vs batch: the streaming name drains a micro-batch query",
    frozenset({"streaming_exact_dedup", "streaming_dedup_bounded_state"}):
        "two streaming dedups: unbounded state vs watermark-evicted RocksDB state",
    frozenset({"dedup_minhash_lsh", "dedup_minhash_lsh_table"}):
        "the table name is the durable, kill-resumable signature-table mode",
}


def test_byte_identical_oracles_are_allow_listed():
    by_sql = defaultdict(set)
    for name, sql in queries.oracle_sql().items():
        by_sql[sql].add(name)
    groups = {frozenset(names) for names in by_sql.values() if len(names) > 1}
    assert not groups - set(ALLOWED), sorted(map(sorted, groups - set(ALLOWED)))
    assert not set(ALLOWED) - groups, sorted(map(sorted, set(ALLOWED) - groups))
