"""Physical-plan audits: the 100 TB posture must hold *structurally* —
broadcast joins for dims, filter pushdown to scans, whole-stage codegen,
top-K as TakeOrderedAndProject, partial (map-side) aggregation. These
are the properties that decide whether a plan survives a 1000× scale-up,
so they are asserted, not assumed."""

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.operators import QUERIES
from sample_emr_on_eks_fgac_iceberg_spark.plans import (
    explain_str,
    global_windows,
    pushed_filters,
    uses_broadcast_join,
    wholestage_codegen_spans,
)


@pytest.mark.parametrize(
    "name",
    [
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q9_product_profit",
        "q10_returned_items",
        "text_lang_id",
    ],
)
def test_dim_joins_broadcast(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert uses_broadcast_join(df), f"{name}: expected a BroadcastHashJoin"


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters


def test_q6_all_filters_pushed(spark, sf_dir):
    df = QUERIES["q6_forecast_revenue"](spark, sf_dir)
    filters = pushed_filters(df)
    joined = ";".join(filters)
    assert "l_shipdate" in joined and "l_quantity" in joined


def test_q1_partial_aggregation(spark, sf_dir):
    # map-side combine: HashAggregate appears both before and after the
    # exchange (partial + final)
    plan = explain_str(QUERIES["q1_pricing_summary"](spark, sf_dir), "simple")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = explain_str(QUERIES["topk_orders"](spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_queries_use_wholestage_codegen(spark, sf_dir):
    for name in ["q1_pricing_summary", "scalar_string_funcs", "case_when_price_bands"]:
        assert wholestage_codegen_spans(QUERIES[name](spark, sf_dir)) >= 1, name


def test_column_pruning_reaches_scan(spark, sf_dir):
    # q6 needs only 4 lineitem columns; the scan must not read all 11.
    plan = explain_str(QUERIES["q6_forecast_revenue"](spark, sf_dir), "formatted")
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert set(cols) <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
    assert len(cols) <= 4


def test_no_cartesian_in_similarity_topk(spark, sf_dir):
    # round-8 shape: the Q×D query matrix rides into an Arrow-batched
    # GEMM (no join at all — the old broadcast-nested-loop evaluated
    # the dot product in interpreted higher-order lambdas); candidates
    # stream once, each task emits only its local top-K per query
    plan = explain_str(QUERIES["ann_cosine_topk"](spark, sf_dir), "simple")
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_shuffle_no_join_node(spark, sf_dir):
    # the union+window as-of plan must contain NO join operator (the
    # naive >= join would explode per key) and exactly one shuffle on
    # user_id feeding the window sort.
    plan = explain_str(QUERIES["asof_join_click_purchase"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan


def test_range_join_is_keyed_not_cartesian(spark, sf_dir):
    # equi key on user_id must drive the join; the time range is a
    # residual filter, never a cartesian/nested-loop product.
    plan = explain_str(QUERIES["range_join_purchase_followup"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_q8_dims_broadcast(spark, sf_dir):
    plan = explain_str(QUERIES["q8_market_share"](spark, sf_dir), "simple")
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_grouping_sets_single_scan(spark, sf_dir):
    # Rollup-from-finest: no Expand (which would feed 3× the fact rows
    # into the aggregate), no fact re-scan per grouping set — the
    # coarser sets re-aggregate the checkpointed finest-level base
    # (Scan ExistingRDD), so the fact is scanned exactly once, at base
    # materialization.
    plan = explain_str(QUERIES["grouping_sets_revenue"](spark, sf_dir), "simple")
    assert "Expand" not in plan
    assert "Union" in plan and "ExistingRDD" in plan
    assert plan.count("Scan parquet") == 0 and plan.count("FileScan") == 0, plan


def test_warehouse_partition_pruning(spark, tmp_path):
    """A filter on the identity-partition column must prune at the scan
    (PartitionFilters), not post-filter — the property that makes
    `WHERE city = …` read one directory instead of the table."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("pt", "k int, city string", partition_by=["city"])
    wh.insert_values("pt", [(i, c) for i in range(10) for c in ("Austin", "Dallas")])
    df = wh.read_table("pt").filter("city = 'Austin'")
    plan = explain_str(df, "formatted")
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "city" in m.group(1), plan


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Co-located join: both sides bucketed by the join key → the
    sort-merge join needs NO Exchange (the 100 TB strategy for
    repeated fact-fact joins; at scale this is Iceberg's bucket
    partition transform or Spark bucketBy)."""
    from pyspark.sql import functions as F

    a = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("va")
    )
    b = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") % 11).alias("vb")
    )
    # external tables (explicit paths) keep bucket metadata without
    # touching the static spark.sql.warehouse.dir
    a.write.mode("overwrite").option("path", str(tmp_path / "bk_a")).bucketBy(
        8, "k"
    ).sortBy("k").saveAsTable("bk_a")
    b.write.mode("overwrite").option("path", str(tmp_path / "bk_b")).bucketBy(
        8, "k"
    ).sortBy("k").saveAsTable("bk_b")
    # hint("merge") pins SortMergeJoin (a broadcast would bypass the
    # bucket layout at this toy size; at fact-fact scale SMJ is what
    # the planner picks anyway)
    joined = spark.table("bk_a").hint("merge").join(spark.table("bk_b"), "k")
    plan = explain_str(joined, "simple")
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan


def test_q21_scans_lineitem_once(spark, sf_dir):
    # the textbook Q21 (EXISTS + NOT EXISTS) scans lineitem three
    # times and shuffles it for two self-joins; the per-order-aggregate
    # rewrite must read it exactly once
    plan = explain_str(QUERIES["q21_waiting_suppliers"](spark, sf_dir), "simple")
    assert plan.count("lineitem.parquet") == 1, plan


def test_curation_sampling_stays_narrow(spark, sf_dir):
    # hash-fraction sampling must be a filter over the scan — one keyed
    # fan-out exchange, no aggregation, no join, no window
    plan = explain_str(QUERIES["sample_hash_fraction"](spark, sf_dir), "simple")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("HashAggregate") == 0


def test_curation_pipeline_shuffle_budget(spark, sf_dir):
    # normalize → dedup-window → filter → agg: the dedup window and the
    # aggregate are the only width — fan-out + window + partial/final
    # agg exchanges, and nothing else (no join, single scan)
    plan = explain_str(QUERIES["curation_pipeline"](spark, sf_dir), "simple")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") <= 3  # fan_out + window key + agg key


def test_split_accounting_partial_agg(spark, sf_dir):
    # per-split counting must map-side combine (partial + final)
    plan = explain_str(QUERIES["split_train_holdout"](spark, sf_dir), "simple")
    assert plan.count("HashAggregate") >= 2


def test_shard_export_one_shuffle_partial_agg(spark, sf_dir):
    # shard manifest = one hash shuffle on the 16-value shard key with
    # map-side combine — no join, no window, single scan
    plan = explain_str(QUERIES["shard_export_manifest"](spark, sf_dir), "simple")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_language_temperature_broadcasts_quotas(spark, sf_dir):
    # the per-lang quota frame is a few rows: it must broadcast into
    # the ranked corpus side, never cartesian/sort-merge
    df = QUERIES["sample_language_temperature"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert uses_broadcast_join(df), plan


def test_bigram_topk_no_join(spark, sf_dir):
    """Bigrams are built per-document inside codegen — the plan must
    not contain any join of the corpus with itself."""
    df = QUERIES["bigram_topk_per_lang"](spark, sf_dir)
    plan = explain_str(df)
    assert "Join" not in plan, plan[:800]


def test_embedding_centroids_partial_agg_no_sort(spark, sf_dir):
    """One hash aggregation with map-side partials on (label, dim);
    no sort anywhere — centroid accumulation is orderless."""
    df = QUERIES["embedding_centroids"](spark, sf_dir)
    plan = explain_str(df)
    assert plan.count("HashAggregate") >= 2, plan[:800]  # partial+final
    assert "Sort" not in plan, plan[:800]


def test_unigram_rarity_vocab_broadcast(spark, sf_dir):
    """The scoring join must broadcast the (bounded) vocabulary, never
    shuffle the exploded corpus against it."""
    df = QUERIES["quality_unigram_rarity"](spark, sf_dir)
    assert uses_broadcast_join(df)
    plan = explain_str(df)
    assert "SortMergeJoin" not in plan, plan[:800]


def test_ann_lsh_det_projection_in_codegen_no_python(spark, sf_dir):
    """The hyperplane projection must be pure JVM: no Python
    *evaluation* node anywhere in the plan. (The 64-row coefficient
    table's scan carries an `applySchemaToPythonRDD` provenance string
    — driver-side literal data, not per-row Python execution — so the
    assertion targets the actual eval operators.)"""
    df = QUERIES["ann_lsh_det"](spark, sf_dir)
    plan = explain_str(df)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "PythonUDF"):
        assert node not in plan, plan[:800]


def test_minhash_det_no_allpairs_before_banding(spark, sf_dir):
    """Candidates must come from the band-bucket equi-join; the plan
    must not contain any cartesian/nested-loop join."""
    df = QUERIES["dedup_minhash_det"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan[:800]


def test_audio_rms_partition_preserving_no_shuffle(spark, sf_dir):
    """PCM decode is a single mapInPandas pass: no Exchange in the
    plan (fan_out's repartition happens at load, before this check's
    concern — assert no aggregation-induced shuffle after the scan)."""
    df = QUERIES["multimodal_audio_rms"](spark, sf_dir)
    plan = explain_str(df)
    # one allowed Exchange from fan_out's explicit repartition; none
    # from the operator itself (no HashAggregate/Sort/Join)
    assert "HashAggregate" not in plan and "SortMergeJoin" not in plan, plan[:800]


def test_winnowing_no_shuffle_all_codegen(spark, sf_dir):
    # winnowing is a pure narrow projection: no Exchange beyond the
    # fan_out repartition, no Python operator, fingerprints built inside
    # codegen via array transforms
    df = QUERIES["winnowing_fingerprint"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "Python" not in plan and "Join" not in plan, plan
    assert plan.count("Exchange") <= 1, plan  # the fan_out only
    assert wholestage_codegen_spans(df) >= 1


def test_tfidf_df_derived_from_tf_single_explode(spark, sf_dir):
    # df reuses the (checkpoint-barriered) tf aggregate — the corpus is
    # exploded at most once in the executed plan (the barrier may hide
    # the Generate behind an ExistingRDD scan), and the doc-count scalar
    # joins as a broadcast
    plan = explain_str(QUERIES["tfidf_top_terms"](spark, sf_dir), "simple")
    assert plan.count("Generate") <= 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_ngram_novelty_gram_join_not_cartesian(spark, sf_dir):
    plan = explain_str(QUERIES["doc_ngram_novelty"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_knn_vote_broadcasts_queries_streams_candidates(spark, sf_dir):
    # candidate side must stream once against a broadcast query set —
    # same scale shape as ann_cosine_topk
    plan = explain_str(QUERIES["knn_label_vote"](spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_gram_matrix_join_free_single_agg(spark, sf_dir):
    """Round-8 rewrite (VERDICT r7 item 4): the D×D Gram matrix is a
    mapInPandas per-batch outer-product partial feeding ONE cell-keyed
    hash aggregate — no vec_id self-join fanning out D(D+1)/2 rows per
    vector, no posexplode."""
    plan = explain_str(QUERIES["embedding_gram_matrix"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan  # no posexplode long form
    assert "MapInPandas" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # map-side partials


def test_doc_length_histogram_partial_agg_no_join(spark, sf_dir):
    plan = explain_str(QUERIES["doc_length_histogram"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # map-side partials


def test_pii_mask_narrow_no_shuffle_no_python(spark, sf_dir):
    plan = explain_str(QUERIES["pii_mask_customers"](spark, sf_dir), "simple")
    assert "Python" not in plan and "Join" not in plan, plan
    assert plan.count("Exchange") <= 1, plan  # the fan_out only


def test_funnel_no_self_join_explosion(spark, sf_dir):
    # stage passes are filter+min aggregations over user_id — the plan
    # must never contain a cartesian or nested-loop events×events join
    plan = explain_str(QUERIES["events_funnel_conversion"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_time_weighted_value_single_window_partial_agg(spark, sf_dir):
    plan = explain_str(QUERIES["events_time_weighted_value"](spark, sf_dir), "simple")
    assert plan.count("Window") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan  # map-side partials


def test_retention_cohorts_no_cartesian(spark, sf_dir):
    plan = explain_str(QUERIES["events_retention_cohorts"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_dynamic_partition_pruning_on_warehouse_join(spark, tmp_path):
    """Joining a partitioned warehouse fact to a filtered dim must plan
    a dynamic-pruning subquery on the fact scan — at 100 TB this is
    what keeps a star join from reading every partition when the
    selective predicate sits on the dimension."""
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_table("dpp_fact", "k int, city string, v double", partition_by=["city"])
    wh.insert_values(
        "dpp_fact",
        [(i, c, float(i)) for i in range(500) for c in ("Austin", "Dallas", "Miami", "Reno")],
    )
    wh.create_table("dpp_dim", "city string, region string")
    wh.insert_values(
        "dpp_dim",
        [("Austin", "south"), ("Dallas", "south"), ("Miami", "east"), ("Reno", "west")],
    )
    fact = wh.read_table("dpp_fact")
    # hint("merge") keeps the dim off the broadcast path so the planner
    # must rely on DPP rather than broadcast-side pruning at this size
    dim = wh.read_table("dpp_dim").filter("region = 'south'").hint("merge")
    plan = explain_str(fact.join(dim, "city"), "formatted")
    assert "dynamicpruning" in plan.lower(), plan[:1200]


def test_k_anonymity_two_stacked_partial_aggs_no_join(spark, sf_dir):
    plan = explain_str(QUERIES["k_anonymity_report"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final × 2 levels


def test_bpe_pairs_bounded_topk_no_global_sort(spark, sf_dir):
    plan = explain_str(QUERIES["bpe_merge_candidates"](spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan


def test_dedup_savings_no_text_column_read(spark, sf_dir):
    # the savings report must read document text ONLY in the edge
    # generator; the metadata join reads (doc_id, n_chars)
    plan = explain_str(QUERIES["dedup_savings_report"](spark, sf_dir), "formatted")
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    meta_scans = [s for s in schemas if "text" not in s]
    assert meta_scans, schemas  # at least one text-free metadata scan


def test_lateral_decorrelates_no_nested_loop_per_row(spark, sf_dir):
    # the LATERAL subquery must decorrelate into joins/aggregates —
    # never a per-outer-row cartesian re-execution
    plan = explain_str(QUERIES["lateral_top_nations_per_region"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, plan


def test_triangle_join_keys_are_vertices(spark, sf_dir):
    plan = explain_str(QUERIES["graph_triangle_count"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_cms_estimate_dominates_exact_and_state_is_bounded(spark, sf_dir):
    # count-min property: est >= exact for every probed word; sketch
    # state is d*w cells (one aggregation with partial/final phases)
    rows = QUERIES["sketch_cms_heavy_hitters"](spark, sf_dir).collect()
    assert rows and all(r.est_count >= r.exact_count for r in rows)
    plan = explain_str(QUERIES["sketch_cms_heavy_hitters"](spark, sf_dir), "simple")
    assert plan.count("HashAggregate") >= 2, plan


def test_dedup_passages_codegen_chunking_no_cartesian(spark, sf_dir):
    # passage chunking is sequence+explode+slice in codegen (no Python
    # worker, element order positional); the provenance join keys on
    # the passage hash — never a cross product
    # (the chunking itself sits behind the materialize_once barrier —
    # the visible plan starts at Scan ExistingRDD, so assert the
    # post-barrier shape: hash joins + partial aggs, no Python)
    plan = explain_str(QUERIES["dedup_passages"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_quantize_int8_long_form_no_python_partial_aggs(spark, sf_dir):
    # posexplode long-form stays JVM-side; scale agg + final rollup
    # both have partial/final phases; the join back is keyed on vec_id
    plan = explain_str(QUERIES["embedding_quantize_int8"](spark, sf_dir), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # 2 aggs x partial/final
    assert "CartesianProduct" not in plan, plan


def test_anomaly_hours_two_stacked_aggs_cokeyed_join(spark, sf_dir):
    # hourly rollup then per-user moments: stacked partial aggs; the
    # join back is user-keyed — no window over raw events, no cartesian
    plan = explain_str(QUERIES["events_anomaly_hours"](spark, sf_dir), "simple")
    assert plan.count("HashAggregate") >= 4, plan
    assert "Window" not in plan and "CartesianProduct" not in plan, plan


def test_image_stats_partition_preserving_decode(spark, sf_dir):
    # the PGM decode is one Arrow-batched mapInPandas over the fanned-
    # out scan; no shuffle after the decode (tiles ride out reduced)
    plan = explain_str(QUERIES["multimodal_image_stats"](spark, sf_dir), "formatted")
    decode_pos = plan.find("MapInPandas")
    assert decode_pos != -1, plan
    assert "Exchange" not in plan[:decode_pos], plan[:decode_pos]


def test_cluster_assign_broadcast_codebook_no_python(spark, sf_dir):
    # the K x D codebook must broadcast; the N x K x D distance pass is
    # born and reduced inside one stage — no Python, no cartesian
    plan = explain_str(QUERIES["embedding_cluster_assign"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dataset_card_single_pass_no_join(spark, sf_dir):
    # one groupBy(source) over the corpus: expand + partial aggs, no
    # joins, no window
    plan = explain_str(QUERIES["corpus_dataset_card"](spark, sf_dir), "simple")
    assert "Join" not in plan and "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_interval_overlap_is_complement_counted_not_nested_loop(spark, sf_dir):
    # the concurrency count must run as complement-counted ranks
    # (optimization r15) — never a BroadcastNestedLoopJoin /
    # CartesianProduct over session pairs, and never a pair
    # materialization at all: the only joins are the K-row offsets
    # broadcast and the final counts attach
    plan = explain_str(QUERIES["sessions_overlap_concurrency"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_basket_pairs_order_keyed_no_cartesian(spark, sf_dir):
    # the pair generator must be the order-keyed equi-self-join; the
    # only nested-loop allowed is the broadcast 1-row denominator
    plan = explain_str(QUERIES["basket_part_pairs"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_markov_bounded_matrix_single_window(spark, sf_dir):
    # the matrix is barriered (one events scan + window, behind the
    # checkpoint), so the visible plan operates purely on the
    # types^2-bounded cached frame: no Window re-execution, no raw
    # events rescan, no cartesian
    plan = explain_str(QUERIES["events_markov_transitions"](spark, sf_dir), "simple")
    assert "Window" not in plan and "ExistingRDD" in plan, plan
    assert "events.parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rfm_no_window_no_orders_rescan(spark, sf_dir):
    # quartile scores are literal cut-point CASE comparisons over the
    # materialized per-customer frame (skew.ntile_cutpoints): the final
    # plan must contain NO window at all — in particular no exchange to
    # a single partition — no join, and no rescan of raw orders
    plan = explain_str(QUERIES["customer_rfm_segments"](spark, sf_dir), "simple")
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "orders.parquet" not in plan, plan
    assert "Join" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_locf_single_window_no_join(spark, sf_dir):
    plan = explain_str(QUERIES["events_locf_fill"](spark, sf_dir), "simple")
    assert "Join" not in plan and plan.count("Window") == 1, plan


# The only legitimate shape for a Window with an empty partitionSpec
# (Spark plans it as an exchange to ONE partition + a full sort there)
# is ranking the survivors of a bounded Limit. These four rank a
# TakeOrderedAndProject result of fixed size — each justified by its
# literal bound:
_BOUNDED_GLOBAL_WINDOW_OK = {
    "text_vocab_topk",  # ranks top-50 vocabulary rows (text.py _VOCAB_TOP_K)
    "quality_unigram_rarity",  # ranks top-100 vocab rows (text.py _RARITY_VOCAB)
    "bpe_merge_candidates",  # ranks top-30 char pairs (text.py _BPE_TOP_K)
    "sketch_cms_heavy_hitters",  # ranks top-20 heavy hitters (text.py _CMS_TOP)
    "bigram_lift_topk",  # ranks top-20 collocations (text.py _LIFT_TOP_K)
}


# Queries allowed a CartesianProduct in the initial physical plan —
# each must be a deliberately-unconditioned join of BOUNDED inputs:
_CARTESIAN_OK = {
    "join_cross_region_status",  # 5 regions × |distinct status| (3)
}


def test_no_data_sized_global_window_anywhere(spark, sf_dir):
    """Global regression gate (VERDICT r6 task 3): no registered
    query's plan may contain a data-sized single-partition window —
    and, same sweep, no surprise CartesianProduct. Bounded (limit-fed)
    global windows are allowed but must be on the explicit allowlist
    above so additions get reviewed."""
    unbounded = {}
    bounded = set()
    cartesian = set()
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        wins = global_windows(df)
        bad = [desc for desc, is_bounded in wins if not is_bounded]
        if bad:
            unbounded[name] = bad
        if any(is_bounded for _, is_bounded in wins):
            bounded.add(name)
        if "CartesianProduct" in explain_str(df, "simple"):
            cartesian.add(name)
    assert not unbounded, (
        "data-sized single-partition window(s) — rewrite with "
        f"skew.ntile_cutpoints or a partitioned window: {unbounded}"
    )
    assert cartesian <= _CARTESIAN_OK, (
        "unplanned CartesianProduct — broadcast the small side or add "
        f"a join key: {cartesian - _CARTESIAN_OK}"
    )
    assert bounded <= _BOUNDED_GLOBAL_WINDOW_OK, (
        "new bounded global window(s) — add to the allowlist WITH a "
        f"one-line bound justification: {bounded - _BOUNDED_GLOBAL_WINDOW_OK}"
    )


def test_ivf_det_broadcast_codebook_and_cell_join(spark, sf_dir):
    # codebook + query probes broadcast; candidate join keyed on the
    # cell id; no cartesian anywhere
    plan = explain_str(QUERIES["ann_ivf_det"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pagerank_rank_join_is_size_gated(spark, sf_dir):
    """VERDICT r9 task 7: the per-iteration rank join broadcasts under
    the node threshold and degrades to a non-broadcast join (never a
    nested loop) above it — a billion-node graph must not die on the
    broadcast limit."""
    plan = explain_str(QUERIES["graph_pagerank_trade"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan, plan
    key = "spark_graft.pagerank.broadcast_max_nodes"
    spark.conf.set(key, "1")  # force the huge-graph path
    try:
        plan_big = explain_str(
            QUERIES["graph_pagerank_trade"](spark, sf_dir), "simple"
        )
    finally:
        spark.conf.unset(key)
    assert "BroadcastNestedLoopJoin" not in plan_big, plan_big
    assert "CartesianProduct" not in plan_big, plan_big
    # the rank side must have stopped broadcasting in the iteration
    # joins: with 3 iterations the broadcast count drops materially
    assert plan_big.count("BroadcastHashJoin") < plan.count(
        "BroadcastHashJoin"
    ), (plan, plan_big)


# ---------------------------------------- round-13 late-wave sugar plans
def test_fetch_with_ties_is_two_pass_take_ordered(spark, sf_dir):
    """PLANS.md wave-11 claim: WITH TIES = TakeOrderedAndProject for
    the n-th key + a scalar-subquery threshold filter — never a global
    rank window (the naive spelling the plan gate rejects)."""
    plan = explain_str(QUERIES["fetch_with_ties_sql"](spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_exclude_prunes_scan_schema(spark, sf_dir):
    """PLANS.md wave-11 claim: * EXCLUDE → * EXCEPT prunes the excluded
    column at the parquet scan (ReadSchema drops o_orderstatus)."""
    import re

    plan = explain_str(
        QUERIES["select_exclude_order_all_sql"](spark, sf_dir), "formatted"
    )
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan
    for s in schemas:
        assert "o_orderstatus" not in s, plan


def test_quantified_no_global_window_no_fanout_join(spark, sf_dir):
    """PLANS.md wave-11 claim: each quantifier is ≤3 bounded scalar
    subplans (COUNT / 1-row TakeOrderedAndProject / NULLS FIRST probe)
    — no window anywhere, and the only joins are broadcast-hash (the
    IN-subquery build sides), never a sort-merge fan-out."""
    plan = explain_str(
        QUERIES["quantified_all_any_sql"](spark, sf_dir), "simple"
    )
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_corr_matrix_single_scan_no_join(spark, sf_dir):
    """lineitem_corr_matrix: the 15 moments fold in ONE aggregate —
    the plan must contain no Join node and exactly one lineitem
    scan."""
    plan = explain_str(QUERIES["lineitem_corr_matrix"](spark, sf_dir), "simple")
    assert "Join" not in plan
    assert plan.count("lineitem.parquet") == 1


def test_mahalanobis_topk_is_take_ordered(spark, sf_dir):
    """customer_mahalanobis_outliers: the top-10 must plan as
    TakeOrderedAndProject (never a global sort), and the 1-row moment
    frame must broadcast."""
    plan = explain_str(
        QUERIES["customer_mahalanobis_outliers"](spark, sf_dir), "simple"
    )
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the top-10 must never plan a global Sort on the distance column
    assert "Sort [d2" not in plan


def test_assortativity_supplier_degree_broadcasts(spark, sf_dir):
    """part_supplier_degree_assortativity: the supplier-degree join
    must be a broadcast (|suppliers| << |edges|); no cartesian product
    on the data path (the two 1-row count attaches are broadcast
    nested loops by construction)."""
    plan = explain_str(
        QUERIES["part_supplier_degree_assortativity"](spark, sf_dir), "simple"
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
