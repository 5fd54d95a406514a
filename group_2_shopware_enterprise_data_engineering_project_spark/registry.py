"""Query registry: name -> (spark callable, DuckDB oracle SQL).

This is the single source of truth behind __spark_entry__.py's
``queries()`` / ``oracle_sql()`` contract. Every operator from
SURVEY.md §2 that is SQL-expressible registers BOTH a Spark callable
(spark, sf_dir) -> DataFrame and the equivalent ANSI SQL for DuckDB;
non-SQL-expressible ops register the callable only (driver records a
rows-only check).

Column-name discipline: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver sorts columns by name
before value-hashing). Aggregates that DuckDB widens to HUGEINT are
CAST to BIGINT in the SQL; decimal literals are cast to DOUBLE.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def scratch_dir(prefix: str) -> str:
    """Scratch dir for a query run, reaped at PROCESS exit (after all
    results are materialized): a long harness session runs hundreds of
    scratch-writing queries, and leaked dirs measurably degrade later
    timings (11 GB / ~5k dirs observed in one r7 session)."""
    d = tempfile.mkdtemp(prefix=f"shopware_spark_{prefix}_")
    atexit.register(shutil.rmtree, d, True)
    return d


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None for rows-only checks
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}

#: Driver-facing core set. The correctness harness checks the FIRST 50
#: registered queries, so ordering is part of the verification
#: contract. Everything past the window marker is covered by the
#: committed FULL-registry local sweep (tools/verify_local.py --json ->
#: CORRECTNESS_LOCAL_r*.json — the artifact, not this comment, is the
#: query count of record). Rotation policy: queries outside the window
#: rely on their newest green driver row plus the sweep; each round,
#: entries with multiple green driver rounds rotate out and
#: never-driver-checked queries rotate in (r4: e9 in for a5; r5: full
#: rotation to the never-checked set, see the block comment below).
CORE_ORDER: tuple[str, ...] = (
    # r13 rotation (r12 verdict item 8): the window fronts the NINE
    # queued never-recently-checked entries (m24/m25 displaced by the
    # session-4 swap, m27/m28 displaced by the late r12 entries, and
    # the r6-cohort queue remainder mm5/st10/st13/t15/t9 — t8 landed
    # in r12), then every query whose CODE changed in r13:
    #   - the minhash barrier removal + vs_existing carry
    #     (dedup_minhash_lsh, t24, d7, st14, m58, d9),
    #   - the brute-force norm-precompute revert (e2, e14, e21, t21),
    #   - the size-gated small-write fan-out + staging repartition(1)
    #     (k1, k9, k10, pipe_web/crm/pos/inventory, st2/5/7/9/11/15/
    #      18/20/21/24/28, k4/k5/k12/k23, the pipe_llm trio),
    # and closes with six single-driver-row retentions from r12
    # (m64/a43/a44 new in r12; j1/t34/m60 changed in r12). Everything
    # displaced keeps its newest green driver row plus the committed
    # full-registry sweep (CORRECTNESS_LOCAL_r13).
    "m24_dense_ids",
    "m25_transition_matrix",
    "m27_count_min",
    "m28_hll_distinct",
    "mm5_media_near_dup",
    "st10_stream_stream_join",
    "st13_stream_count_min",
    "t15_bpe_train",
    "t9_dedup_spans",
    "dedup_minhash_lsh",
    "t24_pair_evidence",
    "d7_incremental_dedup",
    "st14_stream_incremental_dedup",
    "m58_fuzzy_contamination",
    "d9_minhash_calibration",
    "e2_ann_bruteforce",
    "e14_ann_recall_eval",
    "e21_rbo_eval",
    "t21_rrf_fusion",
    "k1_hour_partition_roundtrip",
    "k9_partition_registration",
    "k10_archive_lifecycle",
    "pipe_web",
    "pipe_crm",
    "st5_hourly_alert_counts",
    "st2_stateful_dedup",
    "st11_dedup_within_watermark",
    "st15_stream_outer_join",
    "st18_hopping_window",
    "st20_stream_ann_index",
    "st21_stream_drift",
    "st24_stream_cdc_apply",
    "st28_stream_chunk_manifest",
    "pipe_llm_curation",
    "pipe_llm_prep",
    "pipe_llm_audit",
    "pipe_pos",
    "pipe_inventory",
    "k12_compaction",
    "k23_partition_evolution",
    "st7_stream_kpi",
    "st9_stream_sessions",
    "k4_replace_merge",
    "k5_additive_merge",
    "m64_deterministic_downsample",
    "a43_small_qty_revenue",
    "a44_late_ship_semijoin",
    "j1_loyalty_join",
    "t34_length_gini",
    "m60_budget_select",
    # --- driver window boundary (first 50 above) ---
    # Remaining entries keep their prior relative order (duplicates
    # from the r12 rotation removed; _ordered() now asserts
    # uniqueness); per-query driver history in CORRECTNESS_r0*.json:
    "a16_regression_trends",
    "a19_regional_revenue",
    "a31_basket_lift",
    "a41_ship_priority",
    "st17_stream_static_join",
    "st31_stream_budget_select",
    "a28_drift_buckets",
    "j4_range_join",
    "k13_incremental_agg",
    "k14_rollup_cascade",
    "k16_scd2_history",
    "k18_bucketed_join",
    "k19_bloom_point_lookup",
    "m18_length_buckets",
    "m22_sequence_examples",
    "m26_resample_ffill",
    "st12_stream_dim_replace",
    "t10_tfidf_top_terms",
    "t11_bm25_topk",
    "t12_inverted_index",
    "t13_nb_classifier",
    "a15_key_skew_profile",
    "a17_winsorize",
    "a18_anomaly_zscore",
    "a20_expectations",
    "a21_item_cooccurrence",
    "d5_er_blocked_pairs",
    "d6_qgram_pairs",
    "e10_ann_lsh_multiprobe",
    "e11_semdedup",
    "e12_ann_pq",
    "e13_ann_ivfpq",
    "g1_pagerank",
    "g2_triangle_counts",
    "m19_chunk_documents",
    "m20_shard_assign",
    "m21_source_quantile_filter",
    "m23_negative_sample",
    "t8_corpus_dup_ngrams",
    "a42_reorder_latency",
    "m62_head_tail_truncate",
    "j10_interval_coverage",
    "mm9_caption_align",
    "k33_retention_plan",
    "t33_term_concentration",
    "a40_timebound_conversion",
    "m10_percentiles",
    "m11_json_extract",
    "m12_text_normalize",
    "m13_approx_stats",
    "m14_contamination",
    "m14b_contamination_bloom",
    "m16_mixture_weights",
    "m17_token_budget_select",
    "m2_sessionize",
    "m7b_asof_join_bucketed",
    "m9_session_window_native",
    "mm1_media_fingerprint",
    "mm2_frame_sample",
    "mm3_decode_features",
    "mm4_resize_plan",
    "o1_topk_orders",
    "p13_regex_extract",
    "p15_date_range",
    "p2_extra_column_split",
    "p3_validation_flags",
    "p9_transform_pipeline",
    "s2_csv_roundtrip",
    "s3_jsonl_roundtrip",
    "s5_record_decode",
    "w1_keep_latest",
    "a13_funnel",
    "a14_cohort_retention",
    "a22_grouping_sets",
    "a23_share_of_total",
    "t4_exact_dedup",
    "t5_winnow_fingerprints",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "t6_token_counts",
    "t7_repetition_signals",
    "m1_split_assign",
    "m3_pii_redact",
    "m4_topk_per_group",
    "m5_doc_frequency",
    "m6_stratified_sample",
    "m7_asof_join",
    "m8_dedup_clusters",
    "a36_peak_concurrency",
    "a35_benford_audit",
    "m57_effective_mixture",
    "k32_merge_on_read",
    "st27_stream_mor_purge",
    "e22_pq_distortion",
    "e23_recall_curve",
    "a37_ewma_revenue",
    "m59_chunk_manifest",
    "mm8_scene_segments",
    "j9_interval_union",
    "a38_totalprice_reconciliation",
    "e24_matryoshka_recall_curve",
    "st29_stream_ewma_alerts",
    "m61_softdedup_weights",
    "a39_seasonality_index",
    "st30_stream_interval_union",
    "a1_sales_kpi",
    "a2_session_metrics",
    "a3_engagement_score",
    "a4_loyalty_metrics",
    "a6_duplicate_keys",
    "a8_null_counts",
    "d1_distinct_rows",
    "e9_ann_ivf_kmeans",
    "k11_snapshot_diff",
    "k8_validation_summary",
    "t28_bigram_repetition_gate",
    "t29_lm_oov_filter",
    "m49_loss_mask_spans",
    "m50_vocab_coverage",
    "m51_token_accounting",
    "mm7_frame_dedup",
    "a34_shuffle_skew_audit",
    "t30_boilerplate_lines",
    "e19_two_stage_rerank",
    "m52_importance_selection",
    "m53_span_corruption",
    "a33_l_diversity",
    "j8_interval_overlap",
    "t31_rake_keywords",
    "a32_moving_window",
    "t32_rake_classic",
    "k30_analyze_hll_stats",
    "m54_budget_waterfill",
    "m55_fim_transform",
    "m56_hll_merge_rollup",
    "k31_referential_integrity",
    "st26_stream_waterfill",
    "e20_diversity_coreset",
    "a5_alert_count",
    "a9_rollup_sales",
    "a10_pivot_events",
    "j3_customers_without_orders",
    "d4_cohort_set_ops",
    "w2_running_totals",
    "a11_profile_orders",
    "a12_value_histogram",
    "e1_embedding_norms",
    "e3_ann_lsh",
    "e5_ann_ivf",
    "e7_ann_ivf_probe2",
    "e6_embedding_near_dup",
    "e4_label_stats",
    "e8_ann_quantized",
    "t1_text_stats",
    "t2_quality_score",
    "t3_lang_id",
    "m15_sequence_pack",
    "t14_compression_ratio",
    "m37_source_overlap",
    "t23_script_mix",
    "m38_dataset_card",
    "k27_apply_cdc",
    "a29_k_anonymity",
    "m39_semantic_pack",
    "m40_chunk_embedding_pool",
    "st22_stream_purge",
    "j7_asof_tolerance",
    "m41_packing_efficiency",
    "m42_dedup_cluster_stats",
    "st23_stream_audit_gate",
    "e16_ann_filtered",
    "a30_rfm_features",
    "m43_split_leakage",
    "t25_langid_confusion",
    "m44_feature_hashing",
    "e17_embedding_drift",
    "st25_checkpoint_recovery",
    "m45_ngram_lm_counts",
    "m46_fixed_k_sample",
    "t26_normalized_dedup",
    "mm6_contrastive_pairs",
    "k28_hidden_partitioning",
    "m47_pack_attention_spans",
    "e18_lsh_bucket_stats",
    "s13_gzip_jsonl_roundtrip",
    "s14_csv_malformed_quarantine",
    "m48_leakage_free_split",
    "k29_analyze_column_stats",
    "t27_ocr_noise_signal",
    "m34_preference_pairs",
    "m35_bigram_coverage",
    "t20_line_quality_filter",
    "k26_zorder_layout",
    "m36_conversation_linearize",
    "t22_tokenizer_fertility",
    "m31_histogram_quantiles",
    "a25_unpivot_metrics",
    "d8_canonical_selection",
    "m32_equidepth_bucketize",
    "st19_late_data_accounting",
    "m33_epoch_shuffle",
    "k24_gdpr_purge",
    "s10_binaryfile_scan",
    "s11_logline_parse",
    "a26_window_ranks",
    "a27_wilson_proportions",
    "e15_ann_matryoshka",
    "k25_write_audit_publish",
    "s8_orc_roundtrip",
    "t16_pii_redact",
    "t17_strip_markup",
    "t18_url_stats",
    "s9_xml_roundtrip",
    "j5_skew_join",
    "k21_schema_evolution",
    "k22_time_travel_cdc",
    "j6_dynamic_partition_pruning",
    "t19_bpe_encode",
    "m29_temperature_resample",
    "m30_resample_interpolate",
    "a24_attribution",
    "st16_stream_custom_state",
    "k17_zone_map_scan",
    "k20_shard_manifest",
)


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def _ordered() -> list[QuerySpec]:
    """Core set first (in CORE_ORDER), then the rest in registration
    order. Every CORE_ORDER name must exist — a typo here would silently
    shrink the verified window, so fail loudly instead."""
    missing = [n for n in CORE_ORDER if n not in _REGISTRY]
    if missing:
        raise KeyError(f"CORE_ORDER names not registered: {missing}")
    if len(set(CORE_ORDER)) != len(CORE_ORDER):
        dupes = sorted({n for n in CORE_ORDER if CORE_ORDER.count(n) > 1})
        raise ValueError(
            f"CORE_ORDER contains duplicates: {dupes} — the driver window "
            "is defined by FIRST occurrence, so a stale second entry "
            "silently misdocuments the rotation"
        )
    core = [_REGISTRY[n] for n in CORE_ORDER]
    rest = [s for n, s in _REGISTRY.items() if n not in set(CORE_ORDER)]
    return core + rest


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {spec.name: spec.fn for spec in _ordered()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {
        spec.name: spec.oracle for spec in _ordered() if spec.oracle is not None
    }


def get(name: str) -> QuerySpec:
    _load_all()
    return _REGISTRY[name]


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from group_2_shopware_enterprise_data_engineering_project_spark.queries import (  # noqa: F401
        batch_analytics,
        coverage_q,
        embeddings_sim,
        graph_er,
        ml_prep,
        multimodal_q,
        search_stats,
        streaming_pipelines,
        text_pipeline,
        validation_merge,
        warehouse_q,
    )

    _LOADED = True
