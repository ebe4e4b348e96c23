#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line ``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {...}, "sf": ...}``.

Measurement model: the engine computes every report branch off ONE shared
parsed DataFrame (SURVEY.md §3.2 — the reference re-materializes pandas
frames per analyze fn; we don't).  So the bench times:

- ``pipeline``  — the flagship parse→enrich→route→aggregate job end to end
  (best-of-3 like every entry; includes the ``mapInArrow`` grok parse);
- ``parse_cache`` — materializing the shared parsed DataFrame once
  (single-run by nature: a rerun would count the already-cached frame);
- each aggregate query over the cached parsed frame (what a dashboard
  refresh costs);
- document/embedding ops over their own tables.

Rows/sec for the flagship is included in the JSON
(``rows_per_sec_pipeline``).  The script takes no arguments: any argument
prints the usage line and exits 2 before a session starts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from python_fastly_log_query_spark import oracle_corpus as oc  # noqa: E402
from python_fastly_log_query_spark import queries as Q  # noqa: E402
from python_fastly_log_query_spark.datagen import geoip_dim  # noqa: E402
from python_fastly_log_query_spark.functions.columns import status_class  # noqa: E402
from python_fastly_log_query_spark.operators import aggregates as agg  # noqa: E402
from python_fastly_log_query_spark.operators.dedup import release_persists  # noqa: E402
from python_fastly_log_query_spark.operators.enrich import enrich_geoip  # noqa: E402
from python_fastly_log_query_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the warm-up slice sits next to the measured scale
WARM_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.001")

# Aggregate queries run against the shared cached parsed frame.
AGG_QUERIES = [
    "requests_per_hour",
    "requests_per_day",
    "popular_endpoints",
    "status_code_distribution",
    "error_rates",
    "cache_statistics",
    "response_size_stats",
    "top_user_agents",
    "agent_type_distribution",
    "most_common_parameters",
    "parameter_value_distributions",
    "top_query_signatures",
    "largest_traffic_spikes",
    "top_request_ips_with_ua",
    "top_ips_by_request_rate",
    "daily_summary",
]

# Standalone queries (own table scans, include IO).  The dedup/ANN surface
# is benched explicitly (VERDICT r1 item 8) so plan regressions show up.
STANDALONE_QUERIES = [
    "dedup_exact",
    "doc_fingerprint",
    "token_counts",
    "quality_scores",
    "lang_id",
    "embedding_topk_cosine",
    "broadcast_join_mktsegment",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_auto",
    "dedup_lsh_verified",
    "dedup_clusters",
    "simhash_neardup_pairs",
    "embedding_lsh_topk",
    "embedding_ivf_topk",
    "embedding_pq_topk",
    "embedding_pq_rerank_topk",
    "embedding_ivf_pq_topk",
    "embedding_ivf_pq_rerank_topk",
    "embedding_neardup_banded",
    "embedding_neardup_banded_auto",
    "dedup_minhash_lsh_table",
    "pricing_summary",
    "segment_revenue_topn",
    "ip_sessions",
    "streaming_routed_counts",
    "asof_config_rollup",
    "streaming_neardup_ingest",
    "dup_ngram_stats",
    "decontamination_stats",
    "packed_seq_stats",
    "dedup_bloom_incremental",
    "span_dedup_stats",
    "corpus_yield_funnel",
    "top_terms_per_doc",
    "mixture_resample_report",
    "pii_redaction_stats",
    "vocab_oov_stats",
    "linear_quality_scores",
    "split_leakage_stats",
    "winnow_fingerprints",
    "dsir_importance_scores",
    "url_canonical_dedup",
    "domain_yield_stats",
    "html_text_extraction",
    "bpe_merges",
    "bpe_token_stats",
    "host_link_graph",
    "host_pagerank",
    "bigram_lm_surprise",
    "host_boilerplate_stats",
    "crawl_delta_stats",
    "domain_scorecard",
    "anchor_text_topk",
    "shard_plan_stats",
    "exact_substr_stats",
    "exact_substr_dedup",
    "embedding_kmeans",
    "semdedup_learned_verdicts",
    "embedding_ivf_learned_topk",
    "bm25_search_topk",
    "embedding_knn_graph",
    "host_communities",
    "normalize_text_stats",
    "dedup_keep_best",
    "semantic_decontamination",
    "url_filter_verdicts",
    "inverted_index_topk",
    "robots_verdicts",
    "embedding_graph_expand_topk",
    "chunked_docs",
    "quality_threshold_sweep",
    "dup_rate_by_source",
    "script_mix_stats",
    "embedding_rp_topk",
    "data_quality_profile",
    "data_quality_violations",
    "pmi_top_bigrams",
    "funnel_counts",
    "hourly_retention",
    "host_link_reciprocity",
    "zorder_layout_bins",
    "traffic_anomaly_hours",
    "incremental_rollup_merge",
    "value_quantiles_by_type",
    "events_rollup_hierarchy",
    "daily_event_type_pivot",
    "crawl_budget_tiers",
    "cms_heavy_hitters",
    "approx_quantiles_contract",
    "kmv_shingle_overlap",
    "host_hits",
    "host_crawl_depths",
    "crawl_wave_plan",
    "kcenter_diverse_sample",
    "pps_weighted_sample",
    "cdc_latest_snapshot",
    "cdc_scd2_history",
    "hopping_window_rollup",
    "incremental_join_view",
    "host_trustrank",
    "key_skew_audit",
    "salted_join_rollup",
    "streaming_hopping_rollup",
    "ingest_gap_audit",
    "response_size_histogram",
    "value_mad_outliers",
    "streaming_cdc_snapshot",
    "cdc_asof_lookup",
    "semantic_dup_clusters",
    "log_templates",
    "spatial_region_counts",
    "session_path_transitions",
    "user_cohort_retention",
    "bloom_join_rollup",
    "streaming_error_attribution",
    "compaction_plan",
    "banded_auto_t08",
    "semantic_clusters_t08",
    "semdedup_scaled",
    "knn_graph_scaled",
    "wav_decode_meta",
    "streaming_ip_sessions",
    "host_triangle_stats",
    "editdist_neardup_auto",
    "hybrid_rrf_topk",
    "streaming_enriched_counts",
    "host_scc",
    "orc_roundtrip_counts",
    "host_centrality_stats",
    "bmp_decode_meta",
    "tfidf_overlap_pairs",
    "containment_neardup_pairs",
    "warc_roundtrip_host_stats",
    "cdx_fetch_host_stats",
    "host_coreness",
    "avi_decode_meta",
    "avi_frame_samples",
    "encoding_repair_stats",
    "badword_yield_by_source",
    "training_shuffle_shards",
    "phrase_search_hits",
    "chunk_storage_stats",
    "weighted_sample_topk",
    "table_stats_report",
]

# Measurement protocol id, recorded in the output JSON and in every
# BENCH/history.jsonl line: two records are comparable only when their
# protocols (and hosts) match, so a protocol change never masquerades as
# an engine change.
#   v3: EVERY timed entry (agg section included — round 2 timed it
#   single-run after warm-ups had leaked persisted frames, inflating five
#   entries 6-24x over clean-JVM steady state) is best-of-3 noop-sink
#   runs; before each run all selfjoin_ready persists are released and a
#   JVM System.gc() drains garbage accumulated by PRIOR queries, so no
#   entry is charged for another query's heap debris or for a stray
#   multi-second GC/straggler draw (this box carries external background
#   load; single draws were measured to swing individual queries 3-10x
#   while an isolated session shows 0.4-1.3s steady state for the same
#   code).
PROTOCOL = "v3_best_of_3_noop_gc_release_persists"
REPS = 3


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 4)


def timed2(spark, fn, reps: int) -> float:
    """Best-of-``reps`` steady state (see PROTOCOL)."""

    def once() -> float:
        release_persists()
        spark._jvm.System.gc()
        return timed(fn)

    return min(once() for _ in range(reps))


def warm_up(spark, qmap) -> None:
    """Warm the JVM/Arrow path on a tiny slice so a timed run measures the
    engine, not first-call classloading; the dedup/ANN queries also
    exercise interpreted higher-order expressions whose first evaluation
    pays multi-second codegen/classload (measured: 14s cold vs 2.5s for a
    strict superset query run right after).  The warm-up queries persist
    their exploded self-join frames; they are released so warm-up lineage
    never leaks into a timed run."""
    oc.parsed_events(spark, WARM_DIR).limit(100).count()
    for warm_q in (
        "dedup_minhash_lsh",
        "embedding_lsh_topk",
        "embedding_neardup_banded",
        "simhash_neardup_pairs",
    ):
        qmap[warm_q](spark, WARM_DIR).write.mode("overwrite").format("noop").save()
    release_persists()


def main() -> None:
    # host load before the run, for the record's contention flag
    load1 = os.getloadavg()[0]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = Q.queries()
    timings: dict[str, float] = {}

    # ---- plan fingerprints (VERDICT r4 item 5): structural operator
    # counts of the un-executed plans, recorded BEFORE any warm-up or
    # caching so CacheManager substitution can't perturb them — the
    # drift-proof witness next to the drift-prone wall times.  (The
    # committed pytest expectation lives in BENCH/plan_fingerprints.json
    # under the conftest geometry; this records the bench geometry.)
    from python_fastly_log_query_spark.plans.fingerprint import fingerprint_queries

    plan_fps = fingerprint_queries(spark, SF_DIR, qmap)

    warm_up(spark, qmap)

    # ---- flagship: full parse -> enrich -> route -> hourly rollup ----
    n_rows = oc.events_df(spark, SF_DIR).count()

    def flagship(sfdir: str = SF_DIR):
        parsed = oc.parsed_events(
            spark, sfdir,
            columns=["timestamp", "ip_address", "status_code", "response_size"],
        )
        enriched = enrich_geoip(parsed, geoip_dim(spark, 256))
        routed = enriched.withColumn("route", status_class(F.col("status_code")))
        (
            routed.groupBy(
                F.date_trunc("hour", "timestamp").alias("hour"), "route", "country"
            )
            .agg(F.count(F.lit(1)).alias("requests"), F.sum("response_size").alias("bytes"))
            .write.mode("overwrite")
            .format("noop")
            .save()
        )

    timings["pipeline"] = timed2(spark, flagship, REPS)

    # ---- shared parsed frame (the §3.2 single-scan architecture) ----
    parsed = oc.parsed_events(spark, SF_DIR).cache()

    def materialize_cache():
        # each rep re-materializes from scratch; the final rep leaves the
        # frame cached for the aggregate section below
        parsed.unpersist(blocking=True)
        parsed.persist()
        parsed.count()

    timings["parse_cache"] = timed2(spark, materialize_cache, REPS)

    agg_fns = {
        "requests_per_hour": agg.requests_per_hour,
        "requests_per_day": agg.requests_per_day,
        "popular_endpoints": agg.popular_endpoints,
        "status_code_distribution": agg.status_code_distribution,
        "error_rates": agg.error_rates,
        "cache_statistics": agg.cache_statistics,
        "response_size_stats": agg.response_size_stats,
        "top_user_agents": agg.top_user_agents,
        "agent_type_distribution": agg.agent_type_distribution,
        "most_common_parameters": agg.most_common_parameters,
        "parameter_value_distributions": agg.parameter_value_distributions,
        "top_query_signatures": agg.top_query_signatures,
        "largest_traffic_spikes": agg.largest_traffic_spikes,
        "top_request_ips_with_ua": agg.top_request_ips_with_ua,
        "top_ips_by_request_rate": agg.top_ips_by_request_rate,
        "daily_summary": agg.daily_summary,
    }
    for name in AGG_QUERIES:
        fn = agg_fns[name]
        timings[name] = timed2(spark, lambda fn=fn: fn(parsed).collect(), REPS)

    for name in STANDALONE_QUERIES:
        fn = qmap[name]
        # noop sink: full compute, no driver-side row transfer (pair
        # generators can emit 10^6 rows at sf0.1 — collecting them would
        # measure py4j serialization, not the engine).
        timings[name] = timed2(
            spark,
            lambda fn=fn: fn(spark, SF_DIR).write.mode("overwrite").format("noop").save(),
            REPS,
        )

    # production-width simhash (VERDICT r2 item 6): 64-bit signatures,
    # 3-block pigeonhole at max_hamming=2 — the 10^12-doc configuration,
    # timed at sf0.1 with block-key occupancy recorded to stderr
    from python_fastly_log_query_spark.operators.dedup import (
        simhash_docs, simhash_neardup_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    timings["simhash_neardup_pairs_w64"] = timed2(
        spark,
        lambda: simhash_neardup_pairs(docs, bits=64, max_hamming=2)
        .write.mode("overwrite").format("noop").save(),
        REPS,
    )
    from python_fastly_log_query_spark.operators.dedup import simhash_blocks

    s64 = simhash_docs(docs, 64)
    occ = (
        s64.select(
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned("simhash", sh).bitwiseAND(F.lit((1 << w) - 1))
                        for (sh, w) in simhash_blocks(64, 3)
                    ]
                )
            ).alias("block", "key")
        )
        .groupBy("block", "key")
        .count()
        .agg(
            F.max("count").alias("max_occ"),
            F.avg("count").alias("avg_occ"),
            F.count(F.lit(1)).alias("occupied_keys"),
        )
        .collect()[0]
    )
    print(
        json.dumps(
            {
                "metric": "simhash64_block_occupancy",
                "max_block_key_group": occ["max_occ"],
                "avg_block_key_group": round(occ["avg_occ"], 2),
                "occupied_block_keys": occ["occupied_keys"],
            }
        ),
        file=sys.stderr,
    )

    # ---- streaming bounded-state dedup (VERDICT r3 item 3): timing plus
    # the state-store row counts per micro-batch (the bounded-state
    # evidence; rows_removed > 0 on multi-horizon streams is pinned by
    # tests — here the corpus spans < 1 horizon, so state == distinct fps)
    timings["streaming_dedup_bounded_state"] = timed2(
        spark,
        lambda: qmap["streaming_dedup_bounded_state"](spark, SF_DIR).collect(),
        REPS,
    )
    state_batches = Q.LAST_STREAM_STATE_METRICS.get("streaming_dedup_bounded_state", [])
    print(
        json.dumps(
            {"metric": "stream_dedup_state_per_batch", "batches": state_batches}
        ),
        file=sys.stderr,
    )

    # ---- ANN recall@10 vs brute force (VERDICT r3 item 5): recorded per
    # bench run so a recall regression is visible, not just a timing one
    ann_recall = _ann_recall(spark)
    print(json.dumps({"metric": "ann_recall_at_10", **ann_recall}), file=sys.stderr)

    release_persists()
    parsed.unpersist()

    total = round(sum(timings.values()), 4)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "protocol": PROTOCOL,
        "queries": timings,
        "sf": SF_DIR,
        "rows": n_rows,
        "rows_per_sec_pipeline": round(n_rows / timings["pipeline"], 1),
        "ann_recall_at_10": ann_recall,
        "stream_dedup_max_state_rows": max(
            (b.get("state_rows") or 0 for b in state_batches), default=None
        ),
        "plan_fingerprints": plan_fps,
    }
    print(json.dumps(out))
    _persist_record(out, load1)
    spark.stop()


def _persist_record(out: dict, load1: float) -> None:
    """Commit-able full bench record every run (VERDICT r4 item 2): a
    capture of stdout may keep only its tail, so write the COMPLETE output
    JSON to BENCH/latest.json and append one protocol-tagged line per run
    to BENCH/history.jsonl so per-query history survives any capture
    limit.  The record also says how loaded the host was: ``contended``
    is perfbench's rule, 1-minute load before the run above the usable
    cores, so a contention-bound line describes itself."""
    bench_dir = os.path.join(ROOT, "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    rec = dict(out, cpus=cpus, load1=load1, contended=load1 > cpus)
    rec["recorded_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    try:
        rec["git_head"] = (
            subprocess.check_output(
                ["git", "rev-parse", "--short", "HEAD"],
                cwd=ROOT,
                stderr=subprocess.DEVNULL,
            )
            .decode()
            .strip()
        )
    except Exception:
        pass
    with open(os.path.join(bench_dir, "latest.json"), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
        f.write("\n")
    with open(os.path.join(bench_dir, "history.jsonl"), "a") as f:
        f.write(json.dumps(rec, sort_keys=True) + "\n")


def _ann_recall(spark) -> dict:
    from python_fastly_log_query_spark.operators.similarity import (
        brute_topk,
        ivf_pq_topk,
        pq_adc_rerank_topk,
        pq_adc_topk,
    )

    panel = [0, 7, 123]
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = {}
    from python_fastly_log_query_spark.operators.similarity import (
        ivf_pq_rerank_topk,
    )

    for label, fn in (
        ("pq_adc", lambda q: pq_adc_topk(emb, q, 10)),
        ("pq_rerank", lambda q: pq_adc_rerank_topk(emb, q, 10, 200)),
        ("ivf_pq", lambda q: ivf_pq_topk(emb, q, 10)),
        ("ivf_pq_rerank", lambda q: ivf_pq_rerank_topk(emb, q, 10, 200, 8, 4)),
    ):
        vals = []
        for q in panel:
            brute = {r.vec_id for r in brute_topk(emb, q, 10).collect()}
            got = {r.vec_id for r in fn(q).collect()}
            vals.append(len(brute & got) / 10)
        out[label] = round(sum(vals) / len(vals), 3)
    out["panel"] = panel
    return out


if __name__ == "__main__":
    if sys.argv[1:]:
        print("usage: python bench.py", file=sys.stderr)
        sys.exit(2)
    main()

