"""Deterministic physical-plan fingerprints (VERDICT r4 item 5).

Wall time on a shared host swings 20-50% between launches (three rounds
of drift disputes), so the bench's timing record alone cannot prove a
PLAN regression — a new shuffle or a lost broadcast can hide inside
noise.  A fingerprint is the cheap, drift-proof witness: count the
structural operators in the UN-EXECUTED physical plan (the
``AdaptiveSparkPlan`` initial plan — no jobs run, no runtime
re-planning applied), so the same code + same input stats always
produces the same counts, regardless of machine load.

What a regression looks like in these numbers:

- ``shuffle_exchanges`` up   -> a new Exchange crept into the plan;
- ``broadcast_joins`` down / ``sort_merge_joins`` up -> a lost
  broadcast (dim outgrew the threshold or a hint was dropped);
- ``nested_loop_joins``/``cartesian`` above 0 -> a join degenerated to
  the quadratic fallback (plan-asserted absent for as-of/spatial);
- ``take_ordered`` down -> a top-k stopped using per-partition heaps
  and pays a global sort instead;
- ``python_stages`` up -> work slid out of codegen into Arrow batches.

Fingerprints are keyed by the scale-factor label because join-strategy
choices read FILE-SIZE statistics at planning time — a dim broadcast
at sf0.001 can legitimately be a shuffle join at sf0.1 — and pinned to
ONE session geometry (the conftest local[4]/8-shuffle-partition
session), because plans.partitioning.spread() keys its repartition
decision off defaultParallelism by design.  The committed expectation
(BENCH/plan_fingerprints.json) carries one map per sf label;
tests/test_plan_fingerprints.py diffs the live plans against it on
every pytest run, and bench.py records its own live fingerprints
(bench geometry) in the output JSON every run so cross-round plan
drift is visible next to the timings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# (field, substring) — counted over the one-node-per-line plan string.
# NOTE "BroadcastExchange " itself contains "Exchange ", so the shuffle
# count subtracts it below.
_TOKENS = (
    ("broadcast_joins", "BroadcastHashJoin"),
    ("sort_merge_joins", "SortMergeJoin"),
    ("shuffled_hash_joins", "ShuffledHashJoin"),
    ("nested_loop_joins", "BroadcastNestedLoopJoin"),
    ("cartesian", "CartesianProduct"),
    ("take_ordered", "TakeOrderedAndProject"),
    ("window", "Window"),
    ("sorts", "Sort "),
    ("hash_aggregates", "HashAggregate"),
)
_PYTHON_TOKENS = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "FlatMapGroupsInPandas",
                  "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas", "BatchEvalPython")


def plan_string(df: DataFrame) -> str:
    """The physical plan as Catalyst prints it — one node per tree line,
    BEFORE any job runs (AQE's initial plan, deterministic for a given
    input's planning-time statistics)."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_fingerprint(df: DataFrame) -> dict[str, int]:
    s = plan_string(df)
    fp = {name: s.count(tok) for name, tok in _TOKENS}
    fp["shuffle_exchanges"] = s.count("Exchange ") - s.count("BroadcastExchange ")
    fp["broadcast_exchanges"] = s.count("BroadcastExchange ")
    fp["python_stages"] = sum(s.count(t) for t in _PYTHON_TOKENS)
    return fp


# Headline queries fingerprinted per bench run / pytest run: one
# representative per plan family whose structure the repo's scale
# arguments rely on.  Streaming queries are excluded — their registry
# callables EXECUTE the stream and return a memory-sink table, so the
# fingerprint would only see the post-hoc scan.
FINGERPRINT_QUERIES = (
    "requests_per_hour",          # partial-agg rollup: 1 shuffle
    "popular_endpoints",          # top-k: TakeOrderedAndProject, no global sort
    "daily_summary",              # multi-metric rollup
    "geoip_country_counts",       # broadcast range join: BHJ, no BNLJ
    "broadcast_join_mktsegment",  # broadcast dim equi-join
    "dedup_exact",                # md5 groupBy
    "dedup_minhash_lsh_auto",     # decade-dispatched LSH band join
    "banded_auto_t08",            # numpy-keyed LSH + planted aug (r5)
    "semdedup_scaled",            # grown-cells within-cell self-join (r5)
    "knn_graph_scaled",           # trained multi-probe equi-join (r5)
    "ip_sessions",                # gap sessionization: one session_window aggregate
    "asof_config_rollup",         # as-of join: must stay BNLJ-free
    "spatial_region_counts",      # grid equi-join: must stay BNLJ-free
    "shard_plan_stats",           # two-phase prefix sum, no global sort
    "exact_substr_stats",         # corpus window counts + join-back
    "host_pagerank",              # unrolled fixpoint joins
    "bm25_search_topk",           # 1-row broadcast stats + TakeOrdered
    "cms_heavy_hitters",          # sketch rollup
    "host_triangle_stats",        # oriented wedge equi-joins: no BNLJ/cartesian (r5)
    "editdist_neardup_auto",      # decade-dispatched block equi-join: no cross join (r5)
    "hybrid_rrf_topk",            # fixed-k fusion: corpus work inside TakeOrdered sources (r5)
    "containment_neardup_pairs",  # capped inverted-index equi-join: no cross product (r5)
    "host_coreness",              # h-index fixpoint: per-round join + distinct-est window (r5)
    "encoding_repair_stats",      # ftfy rule chain: map-only, ZERO exchanges (r5)
    "badword_yield_by_source",    # literal-array blocklist: no join, 1 dim rollup shuffle (r5)
    "training_shuffle_shards",    # seeded shuffle digest: 1 exchange, ZERO Sort nodes (r5)
    "phrase_search_hits",         # positional adjacency: generator-filter, no self-join (r5)
    "chunk_storage_stats",        # content-defined chunks: doc-bounded window, no joins (r5)
    "weighted_sample_topk",       # priority sample: TakeOrderedAndProject, no global sort (r5)
    "table_stats_report",         # ANALYZE pass: one wide aggregate, zero joins (r5)
)


def fingerprint_queries(spark, sf_dir: str, qmap: dict) -> dict[str, dict[str, int]]:
    """Build (never execute) each fingerprinted query and return
    name -> fingerprint.  Building a handful of them runs cheap
    dimension-sized driver steps (counts, k-means fits) by design."""
    out = {}
    for name in FINGERPRINT_QUERIES:
        out[name] = plan_fingerprint(qmap[name](spark, sf_dir))
    return out
