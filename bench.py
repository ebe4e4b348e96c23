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
  (best-of-3 like every entry; includes the pandas-UDF grok parse);
- ``parse_cache`` — materializing the shared parsed DataFrame once
  (single-run by nature: a rerun would count the already-cached frame);
- each aggregate query over the cached parsed frame (what a dashboard
  refresh costs);
- document/embedding ops over their own tables.

Rows/sec for the flagship is included in the JSON (``rows_per_sec``).
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

# sf1 sweep (VERDICT r3 item 2): the same registered queries re-measured
# at 10x the data (tables generated by datagen.generate_sf_tables into
# _work, schema/distribution-matched to sf0.1), growth factor = sf1/sf0.1
# per query.  Non-linear growth needs a NAMED explanation in the output.
SF1_REUSE = [
    "pipeline",
    "dedup_exact",
    "doc_fingerprint",
    "token_counts",
    "quality_scores",
    "lang_id",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_auto",
    "dedup_lsh_verified",
    "dedup_clusters",
    "dedup_minhash_lsh_table",
    "embedding_topk_cosine",
    "embedding_pq_topk",
    "embedding_pq_rerank_topk",
    "embedding_ivf_pq_topk",
    "embedding_ivf_pq_rerank_topk",
    "broadcast_join_mktsegment",
    "pricing_summary",
    "segment_revenue_topn",
    "ip_sessions",
    "simhash_neardup_pairs_w64",
    "asof_config_rollup",
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
    "embedding_ivf_learned_topk",
    "bm25_search_topk",
    "kmv_shingle_overlap",
    "pps_weighted_sample",
    "cdc_latest_snapshot",
    "cdc_scd2_history",
    "hopping_window_rollup",
    "incremental_join_view",
    "key_skew_audit",
    "salted_join_rollup",
    "value_mad_outliers",
    "cdc_asof_lookup",
    "log_templates",
    "spatial_region_counts",
    "session_path_transitions",
    "user_cohort_retention",
    "bloom_join_rollup",
    # r5: the scale-honest embedding configs, now registered + oracled —
    # the sweep times the REGISTERED names (VERDICT r4 item 1)
    "banded_auto_t08",
    "semantic_clusters_t08",
    "semdedup_scaled",
    "knn_graph_scaled",
    "wav_decode_meta",
    # r5 widening: triangle counting (edge dim is hosts^2-bounded),
    # decade-dispatched editdist blocking, and RRF fusion (fixed-k
    # windows over top-20 cuts; corpus cost lives in the BM25/cosine
    # sources, both linear)
    "host_triangle_stats",
    "editdist_neardup_auto",
    "hybrid_rrf_topk",
    "host_scc",
    "orc_roundtrip_counts",
    "host_centrality_stats",
    "bmp_decode_meta",
    "tfidf_overlap_pairs",
    # r5 finishers: WARC round-trip is file-parallel map-only (linear by
    # construction); containment's df_cap=20 posting budget self-limits
    # across the sf0.1->sf1 boundary (4-gram df crosses the cap there on
    # this bounded-vocab corpus — tfidf/simhash saturation pattern)
    "containment_neardup_pairs",
    "warc_roundtrip_host_stats",
    # CDX fetch reads k=N/7 members by byte range — I/O linear in the
    # fetch set, never in archive size; coreness scans the corpus once
    # for edges, then iterates on the fixed 37-host dim (host-dim work
    # is constant across sf, so growth tracks the edge-extraction scan)
    "cdx_fetch_host_stats",
    "host_coreness",
    # AVI encode+decode is mapInPandas both ways — per-doc constant work
    "avi_decode_meta",
    "avi_frame_samples",
    # both map-only single-scan passes (regexp chain / literal-array
    # membership) — the strictest linear shapes in the corpus family
    "encoding_repair_stats",
    "badword_yield_by_source",
    # one shard-key shuffle; within-shard order inside the aggregate
    "training_shuffle_shards",
    # posting-list rows (query-term frequency), not corpus rows, shuffle
    "phrase_search_hits",
    # doc-bounded window + two partial-agg groupBys, no joins
    "chunk_storage_stats",
    # TakeOrderedAndProject (k rows to driver) / one wide aggregate pass
    "weighted_sample_topk",
    "table_stats_report",
]
SF1_EXPLAIN = {
    "semantic_dup_clusters": (
        "excluded as-registered: it composes banded LSH pairs at threshold "
        "0.45, where the TRUE above-threshold pair count grows ~N^2 by "
        "SEMANTICS (same reason embedding_neardup_banded_auto is excluded) "
        "— the connected-components pass downstream is linear in edges but "
        "the edge list itself is quadratic at that threshold (measured "
        "14.1x wall at 10x data before exclusion).  The scale-honest "
        "clustering config is threshold>=0.8, swept fresh at both scales "
        "as semantic_clusters_t08 — since r5 a REGISTERED, full-oracle registry query (planted linear near-dup pairs), swept via qmap"
    ),
    "embedding_neardup_banded_auto": (
        "excluded from the sweep: at threshold 0.45 the TRUE above-threshold "
        "pair count itself grows ~N^2 (cos>=0.45 is ~3.6 sigma on isotropic "
        "64-dim data, so output is quadratic BY SEMANTICS, not by plan); the "
        "scale-honest near-dup config is threshold>=0.8, swept as "
        "banded_auto_t08 — since r5 a REGISTERED, full-oracle registry query"
    ),
    "embedding_neardup_banded": (
        "excluded: fixed (r=3, b=8) is the small-scale oracle twin by "
        "declaration; auto-sizing is the scale path"
    ),
    "semdedup_learned_verdicts": (
        "excluded as-registered: fixed k=8 cells, so within-cell pair count "
        "grows (N/cells)^2 BY CONFIGURATION; the trained quantizer changes "
        "WHERE the cells sit, not how many — "
        "the scale contract is n_cells grown with N (the registered, oracled semdedup_scaled "
        "witnesses the growth law; training cost itself is linear and swept "
        "via embedding_kmeans)"
    ),
    "embedding_knn_graph": (
        "excluded as-registered: fixed n_cells=8 makes candidate volume "
        "N*nprobe*(N/8) — quadratic BY CONFIGURATION; the scale path grows "
        "n_cells with N to hold cell size constant and is swept as "
        "knn_graph_scaled — since r5 a REGISTERED, full-oracle registry query with the growth law replayed in its oracle"
    ),
}

# Measurement protocol id, recorded in the output JSON (ADVICE r2): deltas
# vs prior rounds are only emitted when the protocols match, so protocol
# changes never masquerade as engine changes.
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


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 4)


def timed2(spark, fn) -> float:
    """Best-of-3 steady state (see PROTOCOL)."""
    from python_fastly_log_query_spark.operators.dedup import release_persists

    def once() -> float:
        release_persists()
        spark._jvm.System.gc()
        return timed(fn)

    return min(once(), once(), once())


def main() -> None:
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

    # warm the JVM/Arrow path on a tiny slice so we measure the engine,
    # not first-call classloading; the dedup/ANN queries additionally
    # exercise interpreted higher-order expressions whose first evaluation
    # pays multi-second codegen/classload (measured: 14s cold vs 2.5s for
    # a strict superset query run right after)
    oc.parsed_events(spark, WARM_DIR).limit(100).count()
    for warm_q in (
        "dedup_minhash_lsh",
        "embedding_lsh_topk",
        "embedding_neardup_banded",
        "simhash_neardup_pairs",
    ):
        qmap[warm_q](spark, WARM_DIR).write.mode(
            "overwrite"
        ).format("noop").save()
    # the warm-up queries persist their exploded self-join frames; release
    # them so warm-up lineage never leaks into the timed section
    from python_fastly_log_query_spark.operators.dedup import release_persists

    release_persists()

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

    timings["pipeline"] = timed2(spark, flagship)

    # ---- shared parsed frame (the §3.2 single-scan architecture) ----
    parsed = oc.parsed_events(spark, SF_DIR).cache()

    def materialize_cache():
        # each rep re-materializes from scratch; the final rep leaves the
        # frame cached for the aggregate section below
        parsed.unpersist(blocking=True)
        parsed.persist()
        parsed.count()

    timings["parse_cache"] = timed2(spark, materialize_cache)

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
        timings[name] = timed2(spark, lambda fn=fn: fn(parsed).collect())

    for name in STANDALONE_QUERIES:
        fn = qmap[name]
        # noop sink: full compute, no driver-side row transfer (pair
        # generators can emit 10^6 rows at sf0.1 — collecting them would
        # measure py4j serialization, not the engine).
        timings[name] = timed2(
            spark,
            lambda fn=fn: fn(spark, SF_DIR).write.mode("overwrite").format("noop").save(),
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

    sf1 = None
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        sf1 = _sf1_section(spark, qmap, timings, flagship)

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
    }
    if sf1 is not None:
        out["sf1"] = sf1
    out["plan_fingerprints"] = plan_fps
    deltas = _deltas_vs_prior_round(timings)
    if deltas:
        print(json.dumps({"metric": "vs_prior_round", **deltas}), file=sys.stderr)
    print(json.dumps(out))
    _persist_record(out)
    spark.stop()


def _persist_record(out: dict) -> None:
    """Commit-able full bench record every run (VERDICT r4 item 2): the
    driver's artifact keeps only the last 2,000 chars of stdout, which
    the sf1 section overflows — so the per-query map vanished from
    BENCH_r04.json and cross-round deltas needed a judge re-run.  Write
    the COMPLETE output JSON to BENCH/latest.json and append one
    protocol-tagged line per run to BENCH/history.jsonl so per-query
    history survives any capture limit."""
    bench_dir = os.path.join(ROOT, "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    rec = dict(out)
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


# generated x10 / x100 tables for the sf1 sweep and the decades probe
WORK_DIR = os.path.join(ROOT, "_work")


def _sf1_section(spark, qmap, base: dict, flagship) -> dict:
    """10x-scale sweep (VERDICT r3 item 2).  Queries in SF1_REUSE compare
    a best-of-2 sf1 run against the main section's best-of-3 sf0.1 number
    (same registered-query shape, scan included); paired extras are
    measured fresh at BOTH scales inside this section so their two sides
    share a measurement shape.  growth = sf1_sec / sf0.1_sec; 10x data
    through a linear operator with fixed overhead should stay <= ~12 — an
    entry above that carries a named explanation or is a finding."""
    from python_fastly_log_query_spark.datagen import generate_sf_tables
    from python_fastly_log_query_spark.operators.dedup import (
        release_persists,
        simhash_neardup_pairs,
    )

    sf1_dir = f"{WORK_DIR}/sfx10"
    generate_sf_tables(spark, sf1_dir, 10)

    def timed_b2(fn) -> float:
        def once() -> float:
            release_persists()
            spark._jvm.System.gc()
            return timed(fn)

        return min(once(), once())

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    # wall budget: the sweep must not endanger the round's bench record if
    # the host is under external load — anything skipped is NAMED in the
    # output (no silent truncation), and a local run with
    # SPARK_GRAFT_SF1_BUDGET=0 (unlimited) covers the full list
    # 540s covers the full list incl. the two fresh SQL controls, which a
    # 420s budget dropped every round once the paired extras grew
    budget = float(os.environ.get("SPARK_GRAFT_SF1_BUDGET", "540")) or float("inf")
    t_start = time.perf_counter()
    skipped: list[str] = []

    sf1_t: dict[str, float] = {}
    base_t: dict[str, float] = {}
    for name in SF1_REUSE:
        if time.perf_counter() - t_start > budget:
            skipped.append(name)
            continue
        if name == "pipeline":
            fn = lambda: flagship(sf1_dir)  # noqa: E731
        elif name == "simhash_neardup_pairs_w64":
            docs1 = spark.read.parquet(f"{sf1_dir}/documents.parquet")
            fn = lambda d=docs1: noop(simhash_neardup_pairs(d, bits=64, max_hamming=2))  # noqa: E731
        else:
            fn = lambda n=name: noop(qmap[n](spark, sf1_dir))  # noqa: E731
        sf1_t[name] = timed_b2(fn)
        base_t[name] = base.get(name)

    # paired extras: fresh at both scales, same shape and rep count.
    # Since r5 the four scale-honest embedding configs are REGISTERED,
    # full-oracle queries (VERDICT r4 item 1) timed in the headline
    # section like any other registered query and swept via SF1_REUSE —
    # the timed shape IS the verified shape; only the two fresh SQL
    # controls remain paired.
    paired = (
        (
            "requests_per_hour_fresh",
            lambda sf: noop(qmap["requests_per_hour"](spark, sf)),
        ),
        ("daily_summary_fresh", lambda sf: noop(qmap["daily_summary"](spark, sf))),
    )
    for name, mk in paired:
        if time.perf_counter() - t_start > budget:
            skipped.append(name)
            continue
        base_t[name] = timed_b2(lambda: mk(SF_DIR))
        sf1_t[name] = timed_b2(lambda: mk(sf1_dir))

    growth = {
        k: round(sf1_t[k] / base_t[k], 2)
        for k in sf1_t
        if base_t.get(k)
    }
    return {
        "dir": sf1_dir,
        "rows_factor": 10,
        "protocol": "sf1_best_of_2_vs_sf0.1 (reused best-of-3 for main-section queries)",
        "sf1_sec": sf1_t,
        "sf01_sec": base_t,
        "growth": growth,
        "over_12x": sorted(k for k, g in growth.items() if g > 12),
        "excluded": SF1_EXPLAIN,
        "skipped_on_budget": skipped,
    }


# ---------------------------------------------------------------- decades
#
# Two-decade linearity probe: the scale-critical registered queries
# measured at sf0.1 (1x), x10 and x100 row counts.  The sf1 section in the
# per-round bench covers ONE decade; this mode adds the second so the
# "would still work at 1000x" claim rests on two measured decades of
# per-decade growth factors, not an extrapolation from one.  Run manually
# (`python bench.py --scale-decades`); results land in BENCH/DECADES.md.

DECADES_QUERIES = (
    # scale-critical entries FIRST (same rule as the sf1 section): if the
    # wall budget trips mid-list, the NEWLY-claimed linearity evidence
    # must already be recorded.
    # VERDICT r4 item 6: the costliest linear-claims in the corpus family,
    # previously absent from the second decade — exact-substring's window
    # frame is ~one row per corpus token, boilerplate's verdict is a
    # host-keyed anti-join
    "exact_substr_stats",           # Lee et al. window counts + join-back
    "host_boilerplate_stats",       # per-host repeated-line strip
    "requests_per_hour",            # events rollup (10M rows at x100)
    "dedup_exact",                  # md5 groupBy
    "dedup_minhash_lsh",            # FIXED (16,4): the N^2-junk shape, kept as the finding's witness
    "dedup_minhash_lsh_auto",       # decade-sized (r,b): junk bounded per doc
    "editdist_neardup_auto",        # decade-sized block prefix: pairs bounded per block
    "span_dedup_stats",             # C4-style global span dedup
    "host_pagerank",                # iterative graph (fixed iterations)
    "ip_sessions",                  # gap sessionization (session_window)
    "shard_plan_stats",             # distributed prefix sum
    "embedding_ivf_pq_rerank_topk", # ANN: cell-pruned ADC + exact re-rank
    "training_corpus_stats",        # composed dedup->lang->quality pipeline
    "url_canonical_dedup",          # URL canonicalization + dedup
    # r5 near-dup finishers: both carry an ABSOLUTE df_cap posting budget
    # (candidates <= distinct_terms * cap^2, linear in vocabulary) — the
    # second decade witnesses the self-limit with deterministic pair counts
    "tfidf_overlap_pairs",
    "containment_neardup_pairs",
)

# Named explanations for entries EXPECTED to exceed the per-decade bound
# (a listed entry is a characterized finding, not a silent failure).
DECADES_EXPLAIN = {
    "dedup_minhash_lsh": (
        "fixed (16,4) by declaration — the small-scale oracle twin.  Junk "
        "candidates are E = b * sum over pairs of J^r, an N^2-count sum "
        "over the corpus's low-J background tail: measured 621 pairs at "
        "50k docs -> 51,572 at 500k (83x for 10x data).  At this scale "
        "the cheap band join can absorb that in wall time, but the "
        "candidate count is the quadratic witness and the verify stage "
        "downstream pays it in full.  The scale path is "
        "dedup_minhash_lsh_auto."
    ),
    "dedup_minhash_lsh_auto": (
        "log-linear BY DESIGN, not quadratic: per-doc signature cost is "
        "O(r) and r grows with the corpus-size decade "
        "(dedup.minhash_decade_table), so a decade that crosses an r "
        "step (x10 -> x100 crosses 60 -> 77 hashes) pays ~10x * (r'/r) "
        "in TIME while CANDIDATES stay bounded per doc — measured "
        "0.012/doc at 50k docs, 0.057/doc at 500k against the 0.1 "
        "budget, vs the fixed twin reaching the budget at 500k and "
        "growing without bound past it.  Asymptotically O(N log N) "
        "compute with O(N) candidates, vs the fixed twin's O(N) compute "
        "with O(N^2) candidates.  The step factor predicts ~12.8x for "
        "this decade; anything measured above that is host variance "
        "(the same x100 job measured 93-107s across launches the same "
        "hour — see the raw-launch spreads in BENCH/BASELINE.md)."
    ),
    "simhash_w64_unigram": (
        "OUTPUT is quadratic by feature saturation, not a plan defect: "
        "on a bounded-vocabulary corpus unigram token multisets converge "
        "as N grows, so hamming<=2 pairs are measured 11,394 at 50k docs "
        "-> 1,102,135 at 500k (x97 for x10 data) and every one is a TRUE "
        "match under the unigram similarity definition.  The scale "
        "feature set is word 3-grams (simhash_w64_ngram3): same "
        "fingerprint pipeline, pairs 86 -> 792 (the planted duplicates), "
        "similarity aligned with shingle Jaccard."
    ),
    "tfidf_overlap_pairs": (
        "df_cap=50 is an ABSOLUTE posting budget: on this bounded-"
        "vocabulary corpus the rare-bigram index SELF-LIMITS as N grows "
        "(terms cross the cap and drop out), so pair counts FALL with "
        "scale rather than grow — the deterministic pair-count column is "
        "the witness.  Compute stays one scan + one capped equi-join; "
        "any wall growth past ~12x is the scan term plus host drift."
    ),
    "containment_neardup_pairs": (
        "same absolute-budget geometry as tfidf_overlap_pairs (df_cap=50 "
        "over 4-gram shingles): candidates <= distinct_shingles * cap^2, "
        "linear in vocabulary, and on a bounded-vocab corpus the index "
        "self-limits (pair counts in the table).  The registered query "
        "includes the planted-excerpt augmentation, whose pair count "
        "grows exactly linearly (one snippet per 20 docs)."
    ),
    "simhash_w64_ngram3": (
        "compute is O(N) (one md5 per shingle, fixed 64-bit vote loop) "
        "and OUTPUT is linear — see the deterministic pair counts table: "
        "the x10 -> x100 candidate growth is ~10x (the planted "
        "duplicates).  Wall-time growth beyond ~11x on this box is host "
        "drift: heavy JVM jobs here swing 20-50% between launches "
        "minutes apart (raw-launch spreads in BENCH/BASELINE.md), which "
        "a two-point growth ratio amplifies from both sides.  The "
        "drift-proof linearity witness for the whole dedup family is the "
        "candidate-count column, not the seconds column."
    ),
}

# Deterministic pair counts recorded alongside the (noisy) wall times:
# candidate volume is the actual quadratic-vs-linear witness for the
# dedup family, and counts do not drift with host load.
DECADES_PAIR_COUNTS = (
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_auto",
    "editdist_neardup_auto",
    "simhash_w64_unigram",
    "simhash_w64_ngram3",
    "tfidf_overlap_pairs",
    "containment_neardup_pairs",
)


def decades_main() -> None:
    from python_fastly_log_query_spark.datagen import generate_sf_tables
    from python_fastly_log_query_spark.operators.dedup import release_persists

    spark = get_spark("decades")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = Q.queries()
    dirs = {1: SF_DIR, 10: f"{WORK_DIR}/sfx10", 100: f"{WORK_DIR}/sfx100"}
    generate_sf_tables(spark, dirs[10], 10)
    # the x100 probe touches only these three tables; skipping the
    # 60M-row TPC-H set saves most of the datagen wall time
    generate_sf_tables(
        spark, dirs[100], 100, tables=("events", "documents", "embeddings")
    )

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    # JIT/Arrow warm-up on the tiny fixture so scale-1 entries aren't
    # charged classloading that scale-10/100 entries then skip
    for w in ("dedup_minhash_lsh", "embedding_ivf_pq_rerank_topk"):
        noop(qmap[w](spark, WARM_DIR))
    release_persists()

    def best2(fn) -> float:
        def once() -> float:
            release_persists()
            spark._jvm.System.gc()
            return timed(fn)

        return min(once(), once())

    budget = float(os.environ.get("SPARK_GRAFT_DECADES_BUDGET", "3600")) or float("inf")
    t0 = time.perf_counter()
    secs: dict[str, dict[int, float]] = {}
    skipped: list[str] = []
    for name in DECADES_QUERIES:
        if time.perf_counter() - t0 > budget:
            skipped.append(name)
            continue
        secs[name] = {
            f: best2(lambda d=d: noop(qmap[name](spark, d)))
            for f, d in dirs.items()
        }
    # non-registry twins at production width: the unigram/ngram SimHash
    # feature pair — the saturation finding and its fix, side by side
    from python_fastly_log_query_spark.operators.dedup import (
        simhash_neardup_pairs,
    )

    for name, ng in (("simhash_w64_unigram", 1), ("simhash_w64_ngram3", 3)):
        if time.perf_counter() - t0 > budget:
            skipped.append(name)
            continue
        secs[name] = {
            f: best2(
                lambda d=d, ng=ng: noop(
                    simhash_neardup_pairs(
                        spark.read.parquet(f"{d}/documents.parquet"),
                        bits=64,
                        max_hamming=2,
                        ngram=ng,
                    )
                )
            )
            for f, d in dirs.items()
        }

    def _pairs_df(name, d):
        if name.startswith("simhash_w64"):
            return simhash_neardup_pairs(
                spark.read.parquet(f"{d}/documents.parquet"),
                bits=64,
                max_hamming=2,
                ngram=3 if name.endswith("ngram3") else 1,
            )
        return qmap[name](spark, d)

    pair_counts: dict[str, dict[int, int]] = {}
    for name in DECADES_PAIR_COUNTS:
        if name not in secs or time.perf_counter() - t0 > budget:
            continue
        pair_counts[name] = {}
        for f, d in dirs.items():
            release_persists()
            pair_counts[name][f] = _pairs_df(name, d).count()
    growth = {
        name: {
            "g_1_to_10": round(s[10] / s[1], 2),
            "g_10_to_100": round(s[100] / s[10], 2),
        }
        for name, s in secs.items()
    }
    over = sorted(
        n for n, g in growth.items()
        if g["g_1_to_10"] > 12 or g["g_10_to_100"] > 12
    )
    out = {
        "metric": "scale_decades_growth",
        "protocol": "decades_best_of_2_noop_gc_release_persists",
        "scales": {"1": SF_DIR, "10": dirs[10], "100": dirs[100]},
        "sec": {n: {str(k): v for k, v in s.items()} for n, s in secs.items()},
        "growth": growth,
        "over_12x_per_decade": over,
        "explained": {n: DECADES_EXPLAIN[n] for n in over if n in DECADES_EXPLAIN},
        "pair_counts": {
            n: {str(k): v for k, v in c.items()} for n, c in pair_counts.items()
        },
        "skipped_on_budget": skipped,
    }
    rows = [
        f"| {n} | {s[1]} | {s[10]} | {s[100]} | "
        f"{growth[n]['g_1_to_10']} | {growth[n]['g_10_to_100']} |"
        for n, s in secs.items()
    ]
    count_rows = [
        f"| {n} | {c[1]} | {c[10]} | {c[100]} | "
        f"{round(c[10] / max(c[1], 1), 1)} | {round(c[100] / max(c[10], 1), 1)} |"
        for n, c in pair_counts.items()
    ]
    md = f"""# Two-decade linearity probe (sf0.1 -> x10 -> x100)

Scale-critical registered queries timed at three row scales a decade
apart (events 100k/1M/10M, documents 5k/50k/500k, embeddings
2k/20k/200k), same machine, best-of-2 fresh-evaluation runs with
persists released and a JVM GC before each (`python bench.py
--scale-decades`).  A linear operator with fixed overhead should grow
<= ~12x per decade; the per-round bench's sf1 section covers the first
decade every round — this file adds the second.

| query | sec @1x | sec @x10 | sec @x100 | growth 1->10 | growth 10->100 |
|---|---|---|---|---|---|
{chr(10).join(rows)}

Candidate-pair counts for the dedup family — DETERMINISTIC, unlike the
seconds above (heavy JVM jobs on this box swing 20-50% between launches;
see the raw-launch spreads in BENCH/BASELINE.md).  Candidate volume is
the real quadratic-vs-linear witness:

| query | pairs @1x | pairs @x10 | pairs @x100 | growth 1->10 | growth 10->100 |
|---|---|---|---|---|---|
{chr(10).join(count_rows)}

Entries over 12x wall-time growth in either decade: {over or "none"}.
{chr(10).join(f"- **{n}**: {DECADES_EXPLAIN[n]}" for n in over if n in DECADES_EXPLAIN)}
Skipped on wall budget (named, never silent): {skipped or "none"}.
"""
    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    with open(os.path.join(ROOT, "BENCH", "DECADES.md"), "w") as f:
        f.write(md)
    print(json.dumps(out))
    spark.stop()


def _deltas_vs_prior_round(timings: dict[str, float]) -> dict | None:
    """Per-query deltas vs the newest BENCH_r*.json (stderr side channel —
    stdout stays the one-JSON-line driver contract).  Deltas are only
    computed when the prior record used the SAME measurement protocol
    (ADVICE r2: cross-protocol deltas conflate protocol change with
    engine change); otherwise the mismatch is annotated instead."""
    import glob

    prior = sorted(glob.glob(os.path.join(ROOT, "BENCH_r*.json")))
    if not prior:
        return None
    with open(prior[-1]) as f:
        rec = json.load(f)
    # the driver wraps our stdout line under "parsed" (with n/rc/tail
    # siblings); accept both the wrapped and the bare layout
    if "parsed" in rec and isinstance(rec["parsed"], dict):
        rec = rec["parsed"]
    old = rec.get("queries", {})
    if rec.get("protocol") != PROTOCOL:
        return {
            "baseline_file": prior[-1],
            "cross_protocol": True,
            "prior_protocol": rec.get("protocol"),
            "current_protocol": PROTOCOL,
            "note": "no per-query deltas: measurement protocols differ",
        }
    changes = {
        k: {"prev": old[k], "now": v, "delta_pct": round((v - old[k]) / old[k] * 100, 1)}
        for k, v in timings.items()
        if k in old and old[k] > 0
    }
    return {"baseline_file": prior[-1], "changes": changes} if changes else None


if __name__ == "__main__":
    if not sys.argv[1:]:
        main()
    elif sys.argv[1:] == ["--scale-decades"]:
        decades_main()
    else:
        print("usage: python bench.py [--scale-decades]", file=sys.stderr)
        sys.exit(2)
