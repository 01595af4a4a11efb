"""Benchmark harness (driver contract, BASELINE.md).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit", "queries", "sf"}.

Each query executes through a `noop` sink so we measure plan execution
(scan→shuffle→agg), not driver-side row serialization — the honest
number for a 100 TB posture where results land in a table, not in the
driver.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES  # noqa: E402
from sample_emr_on_eks_fgac_iceberg_spark.session import build_session  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_volume_customer",
    "window_order_ranks",
    "pivot_event_counts",
    "fgac_claims_join",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "text_lang_id",
    "text_quality_scores",
    "ann_cosine_topk",
    "similarity_pairs_threshold",
    "events_sessionization",
    "events_tumbling_hourly",
    "asof_join_click_purchase",
    "range_join_purchase_followup",
    "window_range_30d_spend",
    "grouping_sets_revenue",
    "udf_scalar_charge",
    "udaf_weighted_discount",
    "shard_export_manifest",
    "sample_language_temperature",
    # round-4 additions (verdict task 8): perf-track the LLM-pipeline
    # curation surface too
    "curation_pipeline",
    "decontaminate_ngrams",
    "text_vocab_topk",
    # round-4 operators (collocations, LM-quality proxy, centroid
    # training agg, PCM decode, deterministic LSH)
    "bigram_topk_per_lang",
    "quality_unigram_rarity",
    "embedding_centroids",
    "multimodal_audio_rms",
    "ann_lsh_det",
    # round-4 batch 2 (winnowing sketch, trigram novelty, TF-IDF,
    # kNN label vote, length profile, PII scrub)
    "winnowing_fingerprint",
    "doc_ngram_novelty",
    "tfidf_top_terms",
    "knn_label_vote",
    "doc_length_histogram",
    "pii_mask_customers",
    # round-4 batches 3-4 (event analytics, tokenizer stats, privacy
    # audit, and the iterative CC - the one multi-round operator, kept
    # in the headline so its round-count stays perf-tracked)
    "events_funnel_conversion",
    "events_time_weighted_value",
    "events_retention_cohorts",
    "bpe_merge_candidates",
    "k_anonymity_report",
    "dedup_connected_components",
    # round-5: genuine raster decode (PGM header parse + tile stats),
    # passage-level dedup, int8 quantization, hourly anomaly flags
    "multimodal_image_stats",
    "dedup_passages",
    "embedding_quantize_int8",
    "events_anomaly_hours",
    "embedding_cluster_assign",
    "corpus_dataset_card",
    "sessions_overlap_concurrency",
    "basket_part_pairs",
    "ann_ivf_det",
    "events_markov_transitions",
    "customer_rfm_segments",
    # round-7: second raster decode (BMP), directional containment,
    # KN bigram tables, Gram matrix, feature-store snapshot
    "multimodal_bmp_stats",
    "dedup_containment",
    "kneser_ney_counts",
    "embedding_gram_matrix",
    "user_feature_snapshot",
    "embedding_outliers",
    "doc_length_quartiles",
    # round-8: SemDeDup cluster pruning + bigram-MLE fluency scoring
    "semdedup_prune",
    "bigram_mle_doc_score",
    # round-9: CDC changelog read + multi-clause SCD close-out MERGE
    # (fixture DDL/DML builds lazily in the FIRST run; best-of-two min
    # times the changelog/table read itself)
    "cdc_merge_changelog",
    "merge_scd_close_out",
    "cdc_incremental_agg_maintenance",
    # round-9: PQ codes + ADC preselect + exact re-rank; fixed-point
    # PageRank over the customer-supplier trade graph
    "ann_pq_adc",
    "graph_pagerank_trade",
    "sketch_kmv_distinct",
    "sketch_histogram_quantiles",
    "multimodal_image_ahash_dedup",
    "events_attribution_last_touch",
    "events_prepurchase_paths",
    "orders_seasonal_decomposition",
    "sample_weighted_priority",
    "corpus_mix_rates",
    "dedup_affix_stitch",
    # round-10: Gopher quality rules, tokenizer fertility, Welch A/B,
    # Gini revenue concentration (distributed rank), PCM VAD segments,
    # changelog-view SQL (fixture builds lazily in the first run)
    "quality_gopher_rules",
    "text_tokenizer_fertility",
    "stats_ab_welch_t2",
    "customers_gini_revenue",
    "multimodal_audio_vad_segments",
    "cdc_changelog_view_sql",
    "embedding_top_pc_power_iteration",
    "bigram_lift_topk",
    "similarity_knn_graph",
    "events_cusum_changepoint",
    "dedup_minhash_calibration",
    "orders_lineitem_reconciliation",
    "events_conversion_latency_quantiles",
    # round-11: zero-Exchange storage-partitioned join (mirror build
    # amortizes into the first run), Lee et al. sliding-window exact
    # substring screen, skyline dominance (distributed suffix-min),
    # ABC Pareto classification (distributed cumulative rank),
    # Matryoshka prefix-dim recall, vocab coverage curve, Benford audit
    "spj_bucketed_orders_customer",
    "dedup_substring_exact",
    "orders_skyline_dominators",
    "parts_abc_classification",
    "embedding_matryoshka_recall",
    "text_vocab_coverage_curve",
    "orders_benford_digits",
    "lineitem_weighted_median_price",
    "supplier_hhi_by_nation",
    "cdc_join_mv_maintenance",
    "events_stream_stream_conversions",
    "nation_trade_reachability",
    "events_props_variant_stats",
    # round-12: SQL-planned storage-partitioned join (zero Exchange
    # below the join, straight from the frontend), policy-mediated
    # structured stream (full FGAC path incl. availableNow drain),
    # nested VARIANT multi-path extraction, exact-moment lag-1
    # autocorrelation, exact per-group mode, entropy/hapax/norm
    # diagnostics, per-customer gap window
    "spj_sql_bucketed_join",
    "fgac_stream_patients_agg",
    "events_variant_multipath",
    "orders_daily_autocorr_lag1",
    "lineitem_mode_shipmonth",
    "nation_segment_entropy",
    "customer_interpurchase_gap_stats",
    "text_hapax_ratio_by_lang",
    "embedding_norm_histogram",
    "text_zipf_slope",
    "part_brand_type_chi2",
    "orders_weekday_seasonality",
    "supplier_acctbal_mad_outliers",
    "dedup_cluster_size_histogram",
    "orders_qoq_growth",
    "customer_daily_streaks_histogram",
    # round-12 waves 5-6: QUALIFY + ASOF JOIN through the SQL frontend
    # (warehouse landing amortizes into the first run), GROUP BY ALL
    # parity, and the distributed exact nonparametric stats (rank/ECDF
    # as ONE distributed prefix sum)
    "qualify_top_suppliers_sql",
    "asof_sql_click_attribution",
    "group_by_all_revenue",
    "mannwhitney_u_priority",
    "ks_two_sample_segments",
    "orders_yearly_trend_ols",
    "theilsen_yearly_trend",
    "events_rolling_7d_users",
    "text_readability_cli",
    "customer_cohort_ltv",
    "customer_spend_deciles",
    "distinct_on_latest_click",
    "referential_integrity_audit",
    "orders_column_profile",
    "corpus_curation_funnel",
    "customers_spearman_balance_spend",
    "orders_trimmed_mean_price",
    "lineitem_price_index_laspeyres",
    # round-13: policy-mediated streaming WRITE (sink-definition
    # authorization + exactly-once fence; fixture landing amortizes
    # into the first run), SQL PIVOT / UNPIVOT through the frontend
    "fgac_stream_write_ingest",
    "pivot_sql_status_revenue",
    "unpivot_sql_supplier_metrics",
    # round-13 wave 3: exact-stats shelf (rank/survival/xcorr/EWMA)
    "kruskal_wallis_priority",
    "customer_churn_kaplan_meier",
    "events_click_purchase_xcorr",
    "events_dyadic_smoothed_revenue",
    # round-13 wave 4: cluster inertia, JS divergence, conformance
    "embedding_cluster_inertia",
    "text_lang_char_js_divergence",
    "lineitem_process_conformance",
    # round-13 wave 5: streaming upsert, gradient energy, entry/exit
    "fgac_stream_upsert_state",
    "multimodal_image_gradient_energy",
    "sessions_entry_exit_matrix",
    # round-13 wave 6: backlog series, named WINDOW, snapshot diff
    "orders_daily_backlog",
    "window_named_sql_ranks",
    "time_travel_snapshot_diff",
    # round-13 wave 7: copula grid, grouped Pearson/OLS
    "customers_balance_spend_copula_grid",
    "nations_balance_spend_pearson",
    # round-13 wave 8: PSI drift, consumer PIVOT, streamed shared view
    "orders_value_psi_yearly",
    "fgac_pivot_state_gender",
    "fgac_stream_view_agg",
    # round-13 wave 9: Wilcoxon, keyness G2, centroid separation
    "wilcoxon_signed_rank_halves",
    "text_keyness_loglik_en_de",
    "embedding_centroid_separation",
    # round-13 wave 10: ANOVA F, Mann-Kendall, Theil, ACF correlogram
    "anova_f_priority",
    "mann_kendall_yearly_revenue",
    "nation_revenue_theil",
    "orders_daily_acf_table",
    # round-13 wave 11: EXCLUDE/ORDER BY ALL, WITH TIES, ALL/ANY
    "select_exclude_order_all_sql",
    "fetch_with_ties_sql",
    "quantified_all_any_sql",
    # round-13 wave 12: WITHIN GROUP, l-diversity, Nelson-Aalen, TRY_*
    "percentile_within_group_sql",
    "customers_l_diversity",
    "customer_churn_nelson_aalen",
    "scalar_try_funcs",
    # round-13 wave 13: modern aggs, width_bucket, image resize
    "agg_modern_funcs",
    "orders_width_bucket_histogram",
    "multimodal_image_resize",
    # round-13 wave 14: corr matrix, runs test, Atkinson, Fano
    "lineitem_corr_matrix",
    "runs_test_daily_revenue",
    "customers_atkinson_index",
    "events_fano_dispersion",
    # round-13 wave 15: Mahalanobis top-10, bipartite assortativity
    "customer_mahalanobis_outliers",
    "part_supplier_degree_assortativity",
    # round-14: UDTFs, TABLESAMPLE, privacy/survival/nonparametric
    # completions, entity resolution, corpus diagnostics, ML screens
    "udtf_word_spans_rollup",
    "fgac_udtf_corpus_spans",
    "tablesample_rows_sql",
    "tablesample_hash_sql",
    "customers_t_closeness",
    "customer_churn_logrank_segment",
    "friedman_priority_by_year",
    "fuzzy_name_edit_pairs",
    "text_vocab_richness",
    "customers_segment_nation_mi",
    "part_brand_type_residuals",
    "orders_value_stump_split",
    "source_overlap_matrix",
    "lineitem_cmh_discount_returns",
    "knn_vote_quality",
    "knn_vote_auc",
    "knn_vote_calibration",
    "nation_return_fdr",
]


def _release_blocks(spark) -> None:
    """Deterministically drop every persisted RDD block (the lazy
    ``localCheckpoint`` barriers `materialize_once` creates) plus any
    SQL cache before timing the next query.  Without this the blocks
    linger until the JVM ContextCleaner happens to run, and across a
    46-query suite that residue inflates later queries' GC time — the
    round-4 "+15% with zero code change" drift (VERDICT r4 task 1)."""
    spark.catalog.clearCache()
    try:
        jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it = jmap.iterator()
        while it.hasNext():
            it.next()._2().unpersist(False)
    except Exception:
        pass  # diagnostics only — never fail the bench over cleanup


def run_query(spark, sf_dir: str, name: str) -> None:
    """Query ``name`` executed through a ``noop`` sink."""
    QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()


def pre_query(spark) -> None:
    """Release the previous query's localCheckpoint RDDs before timing:
    materialize_once barriers pin MEMORY_AND_DISK blocks until the
    Python frame objects are collected and the JVM ContextCleaner reaps
    them — across 40 queries that residue inflates later queries' GC
    time."""
    gc.collect()
    _release_blocks(spark)


def warm_up(spark, sf_dir: str) -> None:
    """The untimed start of the suite."""
    # warm the JVM/codegen and file-listing caches once with the smallest query
    run_query(spark, sf_dir, "q1_pricing_summary")
    # materialize the FGAC warehouse (DDL + inserts) outside the timed
    # loop — the reference provisions tables in a separate Athena step
    # (producer_iceberg_datalake_setup.sh), so table setup is not query
    # latency; the timed fgac_* entries then measure the policy-wrapped
    # scan/join itself
    run_query(spark, sf_dir, "fgac_patients_scan")
    # spawn the Python worker pool (one worker per core) outside the
    # timed loop — Arrow/pandas queries otherwise pay ~5-10 s of
    # one-time worker startup in whichever of them runs first
    import pandas as _pd  # noqa: F401

    spark.range(0, 32, 1, 32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()


def codegen_compiles(spark) -> int:
    """Classes Spark's code generator compiled so far in this JVM (one
    per cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _loadavg_1m() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return 0.0


# The r12 number of record was ×1.34 pure box contention (loadavg
# 5.6-6.9 during capture; the builder's quiet-box run measured the
# common set flat) — the per-query ×1.4 noise rule only catches
# spikes, not uniform shifts, so gate the CAPTURE instead: wait for a
# quiet box before timing, and when it never quiets, say so in the
# artifact rather than let the noise become the round's number.
LOADAVG_THRESHOLD = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0"))
LOADAVG_WAIT_S = int(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT", "300"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    jvm_headroom()
    waited = 0
    while _loadavg_1m() > LOADAVG_THRESHOLD and waited < LOADAVG_WAIT_S:
        time.sleep(15)
        waited += 15
    loadavg_start = round(_loadavg_1m(), 2)
    contended = loadavg_start > LOADAVG_THRESHOLD
    if contended:
        print(
            f"bench: box still contended after {waited}s wait "
            f"(loadavg {loadavg_start} > {LOADAVG_THRESHOLD}) — numbers "
            "will carry a contended annotation",
            file=sys.stderr,
        )
    # keep console progress bars out of the driver's 2,000-char stdout
    # tail — the final compact JSON line must survive there verbatim
    spark = build_session(
        app_name="fgac-engine-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in QUERIES]
    # diagnostic subset (e.g. the round-3 shared set in a fresh JVM):
    # comma-separated names, preserving HEADLINE order
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if subset:
        wanted = {s.strip() for s in subset.split(",") if s.strip()}
        names = [n for n in names if n in wanted]
    warm_up(spark, sf_dir)

    # best-of-two per query: the first execution of a plan pays JIT /
    # codegen-compile / Python-worker-spawn costs that are one-time in
    # any real deployment; the min is the warm steady-state number and
    # is markedly more stable run-to-run on a shared 32-thread JVM.
    # When the two runs disagree badly (compile blip landed in BOTH —
    # observed: 5.8s then 0.6s on a query whose steady state is 0.6s),
    # one extra run resolves which was the blip; bounded extra cost.
    # Samples: a warm back-to-back PAIR per query (pass 1), then ONE
    # decoupled sample per query in a second full pass; the reported
    # number is the min of the three.  Back-to-back samples alone share
    # the same ~seconds-wide contention window on a shared box, so a
    # transient interference spike lands in BOTH runs and best-of-N
    # cannot suppress it — that is exactly the round-9 signature
    # (doc_ngram_novelty [3.36, 3.61] in both raw runs, ×5 its r8
    # time, unreproducible in round 10 under fresh-JVM, prefix, and
    # full-suite re-runs; see PLANS.md "round-10 regression
    # root-cause").  The second pass decouples its sample by ~30-60 s
    # of other queries, far wider than the observed interference, while
    # the pair keeps the warm (file-listing-cached) steady-state number
    # that a pure two-pass scheme loses to the cache release between
    # samples. Generated classes survive the passes: the codegen cache
    # holds the suite's working set (session.CODEGEN_CACHE_ENTRIES), so
    # the second pass compiles few classes — the side file records the
    # count of each pass.
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}

    def _run_once(name: str) -> float:
        start = time.perf_counter()
        run_query(spark, sf_dir, name)
        return time.perf_counter() - start

    compiles = [codegen_compiles(spark)]
    for name in names:
        pre_query(spark)
        all_runs[name] = [_run_once(name), _run_once(name)]
    compiles.append(codegen_compiles(spark))
    for name in names:
        pre_query(spark)
        all_runs[name].append(_run_once(name))
    compiles.append(codegen_compiles(spark))
    for name in names:
        runs = all_runs[name]
        timings[name] = round(min(runs), 4)
        all_runs[name] = [round(r, 4) for r in runs]

    total = round(sum(timings.values()), 4)
    spark.stop()
    # The FINAL stdout line is the compact headline dict only: 2-decimal
    # values + no-whitespace separators keep 57 queries at ~1.74 KB.  If
    # the headline set ever grows the line past 1,900 chars, trim the
    # FASTEST queries from the dict (their detail is in BENCH_RUNS.json;
    # `value` stays the full total) rather than ship an unparseable line.
    # Deterministic trim order — ascending (time, name) — so the SAME
    # queries drop every round and consumers diffing stdout dicts across
    # rounds see stable membership (VERDICT r8 task 6).
    loadavg_end = round(_loadavg_1m(), 2)
    compact = {k: round(v, 2) for k, v in timings.items()}
    omitted_names: list[str] = []
    while True:
        payload = {
            "metric": "headline_queries_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": compact,
            "sf": float(sf),
            # capture-quality witness (VERDICT r12 task 4): start is
            # measured AFTER the quiet-box wait; a contended flag means
            # the wait timed out and the suite ran on a loaded host —
            # treat the numbers as an upper bound, not a regression
            "loadavg_start": loadavg_start,
            "loadavg_end": loadavg_end,
        }
        if contended:
            payload["contended"] = True
        if omitted_names:
            payload["queries_omitted"] = len(omitted_names)
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) <= 1900 or not compact:
            break
        fastest = min(compact, key=lambda k: (compact[k], k))
        del compact[fastest]
        omitted_names.append(fastest)
    # name the trimmed queries on stdout when they fit the budget; the
    # authoritative full list always lands in the side file below
    if omitted_names:
        with_names = json.dumps(
            dict(payload, omitted_names=omitted_names), separators=(",", ":")
        )
        if len(with_names) <= 1900:
            line = with_names
    # Full-precision detail (every raw run per query, not just the min,
    # so drift can be separated from noise without re-running — VERDICT
    # r4 task 6) goes to a SIDE FILE: the driver captures only the last
    # 2,000 chars of stdout, and the runs dict grew the r5 output line
    # to ~4.4 KB, truncating the headline scalars away (BENCH_r05.json
    # parsed: null — VERDICT r5 task 1).
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_RUNS.json"
            ),
            "w",
        ) as f:
            try:
                with open("/proc/loadavg") as la:
                    loadavg = la.read().split()[:3]
            except OSError:
                loadavg = []
            json.dump(
                {
                    "total": total,
                    "queries": timings,
                    "runs": all_runs,
                    "sf": float(sf),
                    "omitted_names": omitted_names,
                    # box pressure around the suite — separates shared-
                    # host contention from genuine per-query drift when
                    # a round's numbers move with zero code change;
                    # start is post-quiet-wait (bench refuses to time on
                    # a loaded box until LOADAVG_WAIT_S elapses)
                    "loadavg_start": loadavg_start,
                    "loadavg_end": loadavg,
                    "contended": contended,
                    "cpus": os.cpu_count(),
                    # classes compiled by the pair pass and by the
                    # decoupled pass
                    "codegen_compiles": [b - a for a, b in zip(compiles, compiles[1:])],
                },
                f,
                indent=1,
            )
    except OSError as exc:
        # the side file is best-effort detail; never let a read-only or
        # full disk abort main() after all queries already ran — the
        # compact stdout headline below must always print (ADVICE r6)
        print(f"bench: BENCH_RUNS.json not written: {exc}", file=sys.stderr)
    print(line)


def jvm_headroom() -> None:
    """Set the suite's JVM flags, before the gateway starts."""
    # JIT headroom for a 180+-query suite in ONE JVM: the default
    # 240 MB ReservedCodeCacheSize fills with WholeStageCodegen
    # classes (~4 timed repeats × 184 distinct plans) and the sweeper
    # then flushes HOT methods, so late-positioned queries creep to
    # ×1.3-1.4 their fresh-JVM cost (measured: full suite 193 s →
    # 135 s with 1g; a fresh-JVM half-suite reproduced the same
    # queries at 0.79× their full-suite times). Set via
    # SPARK_SUBMIT_OPTS BEFORE the gateway launches the JVM —
    # spark.driver.extraJavaOptions would be too late under an
    # already-running gateway.
    # per-flag presence checks: a caller's explicit setting of EITHER
    # knob must survive (JVM last-flag-wins would otherwise silently
    # downgrade it)
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    for flag in ("-XX:ReservedCodeCacheSize=1g", "-XX:MaxMetaspaceSize=3g"):
        if flag.split("=")[0] not in opts:
            opts = (opts + " " + flag).strip()
    os.environ["SPARK_SUBMIT_OPTS"] = opts


if __name__ == "__main__":
    main()
