"""Benchmark the headline queries (driver contract: one JSON line to stdout).

Runs each headline query at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS], forcing full execution through the noop sink
(measures the whole plan, no driver-transfer bias). Each query is timed as
the min of two full executions (steady-state plan cost, not first-run
codegen noise; see the loop comment); queries reading >2x their
BASELINE_STANDING.json entry then get one more min-of-2 pass in a later
window (host contention bursts + roaming transients both survive a single
min-of-2 — the retry window's own markers are recorded as marker_retry).
Prints ONE compact summary line (guaranteed < 2000 chars so the driver's
bounded tail parses):
  {"metric": "...", "value": <total sec>, "unit": "sec", "sf": <float>,
   "n_queries": N, "queries": {10 slowest only}, "full": "BENCH_LOCAL.json"}
The complete per-query map is written beside this file: to BENCH_LOCAL.json
when that file is absent or records a run of the same shape (cpus, sf), else
to BENCH_LOCAL.cpus<N>.sf<SF>.json (:func:`bench_local_path`), so a run of
another shape never replaces the committed measurement. The summary line's
"full" names the file written.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_engineering_assignment_spark.queries import load_catalog
from data_engineering_assignment_spark.session import get_spark

HEADLINE = [
    "pricing_summary",
    "sales_per_year",
    "user_purchase_totals",
    "league_table",
    "supplier_return_ratio",
    "nation_rank_top2",
    "brand_revenue",
    "top5_orders",
    "doc_token_stats",
    "top_tokens_per_lang",
    "dedup_exact",
    "dedup_minhash_lsh",
    "cosine_topk",
    "embedding_stats",
    "events_hourly",
    "events_tumbling_10m",
    "events_sessionize",
    "order_ship_lag_30d",
    "click_purchase_attribution",
    "doc_regex_tokens",
    "doc_rolling_hash",
    "embedding_near_dup",
    "orders_rollup",
    "distinct_users_per_type",
    "value_quantiles_by_type",
    "supplier_stats_salted",
    "doc_normalized_fingerprint",
    "dedup_survivors",
    "customers_with_open_orders",
    "customers_without_orders",
    "purchase_asof_last_click",
    "events_multi_rollup",
    "user_rolling_stats",
    "image_color_analytics",
    "event_props_json",
    "approx_distinct_users_rollup",
    # LLM-prep surface (round 2)
    "docs_hash_sample",
    "data_mix_by_source",
    "decontaminate_ngram",
    "pii_redaction",
    "seq_packing",
    "repetition_stats",
    "cyclic_prediction_rates",
    # corpus-level surface (round 2)
    "doc_tfidf_top_terms",
    "doc_chunks",
    "corpus_boilerplate_3gram",
    "orders_profile",
    # analytic surface (round 2)
    "events_pivot_by_type",
    "orders_cube",
    "order_price_distribution",
    "customer_year_setops",
    "orders_cdc_apply",
    "user_state_scd2",
    "daily_conversion_funnel",
    "event_value_trend",
    "training_corpus_build",
    "regional_revenue",
    "shipping_priority_top10",
    "above_nation_avg_customers",
    "events_trailing_hour_sum",
    "user_event_type_sets",
    "nation_presence_full_outer",
    "docs_stratified_sample",
    "events_gapfill_5m",
    "event_transitions",
    "user_retention_cohorts",
    "quality_percentile_gate",
    # events_anomaly_zscore (flat window) demoted r7: the bucketed
    # decomposition below is the default — SCALE.md measured 5.40x vs
    # 1.41x per decade, same oracle; the flat variant stays catalog-
    # registered as the cross-proof but is no longer benched
    "order_price_histogram",
    "median_price_by_priority",
    "returned_items_top20",
    "promo_revenue_pct",
    "large_volume_orders",
    "disjunctive_brand_revenue",
    "event_interarrival_stats",
    "nation_revenue_share",
    "referential_integrity_audit",
    "event_props_variant",
    "lang_source_chisq",
    # round-4 additions: portable (oracle-gated) ANN/dedup twins + the
    # native-PNG multimodal decode gate
    "cosine_topk_lsh",
    "cosine_topk_ivf",
    "dedup_lsh_portable",
    "doc_simhash_portable",
    "png_decode_stats",
    "wav_audio_stats",
    "ml_eval_metrics",
    # round-5 additions: Advanced-2 plus-minus pipeline + tokenizer vocab,
    # all driver-gated
    "plusminus_player_stats",
    "plusminus_top_by_role",
    "vocab_top64",
    "vocab_encode_stats",
    "embedding_quantize_stats",
    "image_format_inventory",
    # round-6 additions: bloom decontamination, the oracle-gated scale
    # formulation of the z-score window, dup-span stats, simhash band LSH.
    # The recall-telemetry pair and cosine_topk_pq stay out: diagnostics /
    # the interpreted-HOF portable PQ twin run at oracle scale under the
    # driver gate, and each family is already benched via its parent
    # queries (the production PQ scan is pytest-verified against the twin).
    "bloom_decontaminate",
    "events_anomaly_zscore_bucketed",
    "doc_dup_span_stats",
    "simhash_hamming_pairs",
    "dedup_jaccard_prefix",
    "incremental_dedup",
    "bm25_topk",
    # round-7 additions: the SemDeDup PRODUCTION path (occupancy-sized
    # k-means cells + per-cell numpy pair scan; rows-only under the driver
    # like dedup_minhash_lsh). The oracle-gated trio (dedup_semantic,
    # dedup_semantic_survivors, semantic_recall_telemetry) stays out —
    # interpreted-HOF portable twins in the cosine_topk_pq class that run
    # at oracle scale under the driver gate.
    "dedup_semantic_kmeans",
    # CCNet-style paragraph-level exact dedup (oracle-gated)
    "paragraph_dedup_stats",
    # DSIR-inspired hashed-ngram data selection (oracle-gated)
    "dsir_affinity_top64",
    # BPE merge-step primitive (oracle-gated)
    "bpe_merge_top32",
    # iterated BPE training loop, 6 recounted merges (oracle-gated)
    "bpe_train_merges",
    # span-merged exact-substring dedup accounting (oracle-gated)
    "doc_dup_spans_merged",
    # BPE encode step: merge application + stream join (oracle-gated)
    "bpe_encode_stats",
    # Gopher intra-doc repetition folds, zero shuffles (oracle-gated)
    "intra_doc_repetition",
    # token-budget mixing, histogram-pruned greedy fill (oracle-gated)
    "token_budget_mix",
    # composed IVF-PQ (IVFADC) portable twin (oracle-gated)
    "cosine_topk_ivfpq",
    # incremental semantic dedup: delta batch vs standing corpus cells
    "incremental_semantic_dedup",
    # two-level SemDeDup cells (sqrt-k broadcast bound; rows-only)
    "dedup_semantic_hier",
    # market-basket association rules, in-row pair explode (oracle-gated)
    "part_affinity_rules",
    # winnowing fingerprints + MOSS-style match join (oracle-gated)
    "doc_winnow_stats",
    "winnow_dup_pairs",
    # integer-exact PageRank + degree-oriented triangles (oracle-gated)
    "copurchase_pagerank",
    "part_copurchase_triangles",
    # asymmetric containment pairs (oracle-gated)
    "dedup_containment_pairs",
    # JL ±1 random projection, zero-shuffle codegen folds (oracle-gated)
    "embedding_rp_stats",
    # point-in-time SCD-2 lookup via the as-of operator (oracle-gated)
    "purchase_prior_state_pit",
    # TPC-H Q7 shape: two-alias dimension join (oracle-gated)
    "bination_trade_volume",
    # apriori triples + blocked entity resolution (oracle-gated)
    "part_affinity_triples",
    "part_name_linkage",
    # TPC-H hard shapes + skyline/TWAP/MAD (oracle-gated)
    "small_quantity_revenue",
    "sole_return_supplier",
    "idle_customer_balance",
    "nation_market_share",
    "top_revenue_supplier",
    "pareto_orders",
    "event_value_twap",
    "events_robust_outliers",
    "part_copurchase_kcore",
    "cheapest_supplier_per_part",
    "token_collocations",
    # TPC-H Q4/Q6/Q9/Q11/Q12/Q13/Q16/Q20 shapes (late round 8)
    "priority_late_orders",
    "forecast_revenue_delta",
    "profit_by_nation_year",
    "part_value_concentration",
    "late_ship_priority_mix",
    "customer_order_distribution",
    "part_supplier_variety",
    "top_share_suppliers",
    # end-of-round-8 sketch + robust-stats queries (oracle-gated)
    "kmv_distinct_users",
    "hll_distinct_portable",
    "user_value_ewma",
    "winsorized_value_stats",
    # round-9 additions: full-profile PNG gate (Adam7/16-bit/sub-byte/
    # palette legs) + large-star/small-star CC scale path (oracle-gated)
    "png_profile_stats",
    "dedup_clusters_star",
    # native animated-GIF codec gate + Theil-Sen robust trend (oracle-gated)
    "gif_decode_stats",
    "user_value_theilsen",
    # native BMP codec gate (oracle-gated)
    "bmp_decode_stats",
    # native baseline-TIFF codec gate (oracle-gated, JDK-interop-validated)
    "tiff_decode_stats",
    # IMA ADPCM audio codec gate (oracle-gated, batch-vectorized)
    "adpcm_audio_stats",
    # multi-source weighted SSSP over the part co-purchase graph
    "part_distance_sssp",
    # EXIF metadata extraction gate (oracle-gated)
    "jpeg_exif_stats",
    # MJPEG-AVI video container gate (oracle-gated)
    "avi_video_stats",
    # media resize + video frame-sample transformer gates (oracle-gated)
    "media_resize_stats",
    "video_frame_sample_stats",
    # favicon (ICO) codec gate (oracle-gated)
    "ico_decode_stats",
    # round-10: perceptual image/audio dedup — pHash/aphash + exact
    # banded Hamming pairs over planted near-dup media (oracle-gated)
    "image_phash_pairs",
    "audio_phash_pairs",
    "video_phash_dups",
    "incremental_image_dedup",
    # round-10 headline audit: every catalog query is now either benched
    # here or listed with a reason in BASELINE.md's exclusion table
    # (scripts/update_baseline.py EXCLUDED; contract-tested). These 19
    # are real user-facing queries that had no standing perf record.
    "distinct_status_priority",
    "top_priority_null_count",
    "null_handling_metrics",
    "metrics_union",
    "doc_path_format",
    "quality_by_source",
    "cross_source_dup_matrix",
    "events_sliding_10m_5m",
    "label_centroids",
    "jsonl_media_groups",
    "binary_media_inventory",
    "csv_sales_publisher_year",
    "jpeg_decode_stats",
    "cms_token_counts",
    "hybrid_retrieval_rrf",
    "nation_name_fuzzy",
    "weighted_median_price",
    "dedup_ngram_jaccard",
    "doc_simhash",
    # WARC crawl-archive ingest gate (oracle-gated)
    "warc_crawl_stats",
    # MS-ADPCM audio codec gate (oracle-gated)
    "ms_adpcm_audio_stats",
    # ZIP archive ingest gate (oracle-gated)
    "zip_archive_stats",
    # round-11: HTML->text extraction + URL/domain analytics + the
    # end-to-end crawl composition (all oracle-gated)
    "html_text_extract_stats",
    "warc_domain_stats",
    "crawl_text_pipeline",
    "url_canonical_dedup",
    "wet_export_roundtrip",
    "crawl_quality_mix",
    "robots_crawl_filter",
    "crawl_to_wet_pipeline",
    "html_main_content_stats",
    "html_charset_stats",
    # CCNet-style log-free bigram LM quality scoring (oracle-gated)
    "doc_bigram_lm_quality",
    # crawl dead-letter census (oracle-gated)
    "crawl_health_stats",
    # round 12: PDF ingest + Content-Type dispatch (oracle-gated)
    "pdf_text_extract_stats",
    "doc_extract_dispatch_stats",
    # round 12: mergeable quantile sketch (oracle-gated)
    "qdigest_event_quantiles",
    # round 12: mixed-payload WARC -> dispatch capstone (oracle-gated)
    "mixed_crawl_extract_stats",
    # round 12: HTTP chunked/gzip/deflate body decoding (oracle-gated)
    "http_encoding_stats",
    # round 12: link graph -> integer PageRank capstone (oracle-gated)
    "crawl_link_pagerank",
    # round 12: fastText-shape fixed-point quality classifier (oracle-gated)
    "quality_classifier_gate",
    # round 12: CDX capture index (oracle-gated)
    "cdx_index_stats",
    # round 12: WAT metadata export (oracle-gated)
    "wat_export_stats",
    # round 12: redirect chain resolution via pointer doubling (oracle-gated)
    "redirect_resolution_stats",
    # round 12: sitemap ingest + frontier seeding (oracle-gated)
    "sitemap_frontier_stats",
    # round 12: Gopher heuristic quality rule set (oracle-gated)
    "gopher_quality_stats",
    # round 12: KMV bottom-k set-operation estimates (oracle-gated)
    "kmv_set_overlap",
    # round 12: CDX payload digests + recrawl snapshot diff (oracle-gated)
    "cdx_recrawl_diff",
    # round 12: C4 cleaning + cross-doc line dedup (oracle-gated)
    "c4_clean_stats",
    # round 12: HITS hubs/authorities on the host graph (oracle-gated)
    "host_graph_hits",
    # round 12: crawl discovery capstone (robots -> sitemaps -> gate)
    "crawl_discovery_pipeline",
    # round 12: TAR container ingest (oracle-gated)
    "tar_archive_stats",
    # round 12: rank-function completeness (ntile/percent_rank/cume_dist)
    "user_event_rank_suite",
    # round 12: adaptive recrawl scheduling (oracle-gated)
    "recrawl_schedule_stats",
    # round 12: per-host contribution cap via histogram pruning (oracle-gated)
    "host_capped_sample_stats",
    # round 12: PSL registered-domain extraction (oracle-gated)
    "registered_domain_stats",
    # round 12: WARC revisit-record dedup export (oracle-gated)
    "warc_revisit_roundtrip",
    # round 12: revisit resolution, the read side (oracle-gated)
    "warc_revisit_resolve_stats",
    # round 12: per-registered-domain caps, cross-module (oracle-gated)
    "domain_capped_corpus_stats",
    # round 12: CCNet head/middle/tail LM-quality split (oracle-gated)
    "ccnet_bucket_split",
    # round 13: WARC request/response pairing census (oracle-gated)
    "warc_request_pairing_stats",
    # round 13: multi-class language-ID classifier (oracle-gated)
    "lang_classifier_gate",
    # round 13: crawl composition with the model-based language gate
    "crawl_lang_classifier_mix",
    # round 13: ISO 28500 record-segmentation reassembly (oracle-gated)
    "warc_segment_reassembly",
    # round 14: char-n-gram (CJK-capable) language-ID gate (oracle-gated)
    "lang_classifier_cjk_gate",
    # round 14: mixed HTML+PDF link-graph capstone (oracle-gated)
    "pdf_link_pagerank",
    # round 14: MP4/ISO-BMFF container metadata gate (oracle-gated)
    "mp4_container_stats",
    # round 14: WebP container metadata gate (oracle-gated)
    "webp_container_stats",
    # round 14: AVIF/HEIC image-container metadata gate (oracle-gated)
    "avif_container_stats",
    # round 14: RSS/Atom feed frontier-seed gate (oracle-gated)
    "feed_frontier_stats",
    # round 14: in-page robots directives gate (oracle-gated)
    "robots_meta_gate",
    # round 14: fragmented-MP4 (DASH/HLS streaming profile) gate
    "fmp4_fragment_stats",
    # round 14: rel-canonical dedup + description metadata gate
    "canonical_dedup_stats",
    # round 14: MP3/ID3 metadata gate (oracle-gated)
    "mp3_audio_stats",
    # round 15: SVG metadata census gate (oracle-gated)
    "svg_image_stats",
    # round 15: FLAC container metadata gate (oracle-gated)
    "flac_audio_stats",
    # round 15: Ogg container metadata gate (oracle-gated)
    "ogg_audio_stats",
    # round 15: JSON-LD / OpenGraph structured-data census (oracle-gated)
    "structured_data_stats",
    # round 15: SRT/WebVTT subtitle gate (oracle-gated)
    "subtitle_track_stats",
    # round 15: HLS playlist (M3U8) gate (oracle-gated)
    "hls_playlist_stats",
    # round 15: MIME e-mail / mbox gate (oracle-gated)
    "eml_message_stats",
    # round 15: Markdown normalization gate (oracle-gated)
    "markdown_corpus_stats",
    # round 15: PNG ancillary-metadata gate (oracle-gated)
    "png_metadata_stats",
    # round 15: iCalendar gate (oracle-gated)
    "ics_calendar_stats",
]


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def contention_markers() -> tuple[float, float]:
    """(single-thread, multi-thread) CPU markers, seconds (min of 2 reps).

    The box suffers intermittent host-level contention (r4, r6 episodes:
    solo totals swung 1.3-2x with untouched queries moving uniformly).
    The discriminator: a single-threaded marker holds constant under
    parallel-throughput contention (it shifts only if this core itself
    slows), while a multi-threaded BLAS matmul swings with whatever else
    is stealing cores. Embedding both in every bench artifact answers
    "is this total real?" mechanically instead of burning a day on
    re-measurement archaeology (r6 postmortem). Fast bands DRIFT (the
    BLAS figure moved from ~0.28s in r6 to ~0.10-0.19s by r7) — anchor
    against the markers in recent BENCH_LOCAL.json artifacts, never a
    hardcoded number; an mt reading 2x+ its recent fast value with st
    flat means the TOTAL is contended and per-query comparisons should
    be read against the best solo run, not this one.
    """
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.random((2048, 2048))
    st = mt = float("inf")
    for _ in range(2):
        # single-thread: element-wise sort (no BLAS threading)
        x = a.ravel().copy()
        t0 = time.perf_counter()
        np.sort(x)
        st = min(st, time.perf_counter() - t0)
        # multi-thread: BLAS matmul (uses every core it can get)
        t0 = time.perf_counter()
        a @ a
        mt = min(mt, time.perf_counter() - t0)
    return round(st, 3), round(mt, 3)


def bench_local_path(directory: str, cpus: int, sf: float) -> str:
    """Where a run of shape (cpus, sf) writes its full per-query map: the
    shared BENCH_LOCAL.json only if it is absent or holds a run of the same
    shape, else a file keyed by the shape."""
    shared = os.path.join(directory, "BENCH_LOCAL.json")
    if os.path.exists(shared):
        with open(shared) as f:
            recorded = json.load(f)
        if (recorded.get("cpus"), recorded.get("sf")) != (cpus, sf):
            return os.path.join(directory, f"BENCH_LOCAL.cpus{cpus}.sf{sf:g}.json")
    return shared


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 0)
    # Chosen before the run, so an unreadable BENCH_LOCAL.json fails fast.
    full_path = bench_local_path(os.path.dirname(os.path.abspath(__file__)), cpus, sf)
    # The driver keeps a bounded tail of COMBINED stdout+stderr: the console
    # progress bar (suppressed in get_spark) and any ERROR-level JVM log line
    # (r8: a harmless DAGScheduler updateAccumulators race printed a
    # ~1.5k-char stack trace) eat budget the summary line needs — log OFF.
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("OFF")
    catalog = load_catalog()

    # Warm-up on the smallest SF so per-query numbers reflect the plan, not
    # first-job setup cost: one JVM/codegen query + one Python-worker query
    # (pandas UDF pool spin-up is ~5s and would otherwise be billed to the
    # first mapInPandas query).
    run_query(catalog["pricing_summary"].build(spark, "/root/testdata/sf0.001"))
    run_query(catalog["embedding_near_dup"].build(spark, "/root/testdata/sf0.001"))
    # Warm the target-SF tables (one count each) so first-touch file I/O and
    # footer reads are not billed to whichever query happens to scan a table
    # first — per-query numbers then measure the plan, same methodology as
    # the standing baseline.
    from data_engineering_assignment_spark.tables import TABLE_NAMES, load

    for t in TABLE_NAMES:
        load(spark, sf_dir, t).count()

    # Each query runs twice and the MIN is recorded: a single pass bills
    # one-time codegen/analysis plus any transient GC/IO hiccup to whichever
    # query hits it, producing 2-4x outliers that are measurement noise, not
    # plan cost (a query measuring 1.3s one-shot re-measures 0.25s steady-
    # state). clearCache between passes keeps both passes full executions
    # for the queries that cache() an intermediate.
    mk_pre = contention_markers()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            run_query(catalog[name].build(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
    mk_post = contention_markers()

    # Contention-resilience retry pass (r13 postmortem: both end-of-round
    # driver benches landed in mt-contended windows and recorded 1.50x when
    # the calm truth was 1.17x). Any query reading >2x its standing-baseline
    # entry gets one more min-of-2 pass in a LATER window (host contention
    # here comes in bursts; the roaming 2-4x transients also survive
    # min-of-2, so the retry is unconditional on the markers — a fresh
    # marker pair for the retry window is recorded alongside). The standing
    # table only applies at its own scale factor.
    retried: dict[str, list[float]] = {}
    marker_retry: list[float] = []
    baseline_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BASELINE_STANDING.json"
    )
    if sf == 0.1 and os.path.exists(baseline_path):
        with open(baseline_path) as f:
            standing = json.load(f).get("queries", {})
        flagged = sorted(
            (n for n, t in timings.items() if n in standing and t > 2.0 * standing[n]),
            key=lambda n: -timings[n] / standing[n],
        )[:25]
        if flagged:
            mk_r = contention_markers()
            marker_retry = [mk_r[0], mk_r[1]]
            for name in flagged:
                best = timings[name]
                for _ in range(2):
                    t0 = time.perf_counter()
                    run_query(catalog[name].build(spark, sf_dir))
                    best = min(best, time.perf_counter() - t0)
                    spark.catalog.clearCache()
                retried[name] = [timings[name], round(best, 3)]
                timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    # [pre_run, post_run] for each marker: contention that starts or stops
    # mid-bench shows as pre/post disagreement
    markers = {
        "marker_st": [mk_pre[0], mk_post[0]],
        "marker_mt": [mk_pre[1], mk_post[1]],
    }
    if marker_retry:
        markers["marker_retry"] = marker_retry
        markers["n_retried"] = len(retried)
    # cpus + sf_dir recorded so a non-standard run (the driver's 8-core
    # scaling rerun overwrote BENCH_LOCAL.json in r15) can never be folded
    # into the standing baseline: update_baseline.py refuses cpus != 32, and
    # bench_local_path keys the output file by (cpus, sf).
    full_line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "cpus": cpus,
            "sf_dir": sf_dir,
            **markers,
            "retried": retried,
        },
        separators=(",", ":"),
    )
    # The driver parses the LAST stdout line and keeps only a 2000-char tail;
    # the full per-query map (~2.5k chars) does NOT fit, so the printed line is
    # a compact summary (total + the 10 slowest queries, ~500 chars) that always
    # parses, while the complete map is mirrored to full_path.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    summary_line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "n_queries": len(timings),
            "queries": slowest,
            "full": os.path.basename(full_path),
            **markers,
        },
        separators=(",", ":"),
    )
    # Stop Spark first (so no shutdown chatter can trail the result), mirror
    # the full line to a file, then print the summary alone.
    spark.stop()
    with open(full_path, "w") as f:
        f.write(full_line + "\n")
    sys.stdout.flush()
    print(summary_line, flush=True)


if __name__ == "__main__":
    main()
