"""Query registry - the single source of truth for the driver contract.

Each query registers once with:
  - a Spark implementation ``fn(spark, sf_dir) -> DataFrame``
  - an optional DuckDB oracle SQL string (ANSI SQL over the same parquet
    tables, pre-registered as views by the driver)

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin projections of
this registry.  Convention enforced across the codebase: every computed /
aggregate column is aliased identically in the Spark plan and the oracle
SQL (the driver sorts columns by name before value-hashing), and every
DOUBLE output is rounded to 2 decimals on both sides so float summation
order cannot flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does a rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a query implementation under ``name``."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or fn.__doc__ or "")
        return fn

    return wrap


def all_queries() -> dict[str, QuerySpec]:
    # Import query modules for side-effect registration (lazy so that a
    # bare `import iceberg_daq_spark` stays cheap).
    from iceberg_daq_spark import queries  # noqa: F401

    return dict(_REGISTRY)


# The verify driver hash-checks only the FIRST 50 entries of
# ``__spark_entry__.queries()``.  With 240+ registered queries the
# window cannot cover everything, so ``driver_ordered`` sorts by how
# much a driver row is worth this round:
#   1. never-driver-checked queries (every new registration lands here
#      automatically), oracle-backed before rows-only, in registration
#      order;
#   2. ``_RECHECK`` - queries whose implementation changed this round
#      with oracles unchanged (manual escape hatch: a driver
#      re-confirmation is worth more than routine staleness), then
#      ``_ROWSONLY_REFRESH`` - up to 5 rows-only queries whose source
#      changed since their last driver row (git-derived quota);
#   3. everything else oracle-backed, STALEST driver row first
#      (ascending ``_LAST_DRIVER_ROUND``), then registration order;
#   4. rows-only queries (the driver can never hash-verify these;
#      local tests assert their semantics) - always last, stalest
#      first.
#
# ``_LAST_DRIVER_ROUND`` is generated from the repo's
# CORRECTNESS_r*.json artifacts by tools/gen_check_order.py (run once
# per round); tests/test_registry_rotation.py fails if it goes stale,
# so the rotation can never silently rot (round-11 verdict #7).

_RECHECK: list[str] = [
    # (r13's recheck list - q109/q81/q117/q133/q138/q97/q239/q57/q231/
    # q236/q237/q230 - all received fresh driver rows in
    # CORRECTNESS_r13.json, every one all-match, so they rotate out.)
    # r14 optimization-round plan changes with oracles unchanged -
    # driver re-confirmation owed; entries are appended as each
    # change lands, and tests/test_oracle.py's fast profile ALWAYS
    # includes this list so the changed code is what gets re-tested.
    #
    # r14: q165/q230/q199 moved to the one-collect_set-exchange shape
    # (pairs/anti-joins/hit joins restate over per-customer/per-order
    # brand sets, q199's bounded <=600-edge LPA iterates on the
    # driver); q204's per-query winner became a max_by partial agg
    # instead of the ranked window over every scored pair.
    "q165_copurchase_cosine",
    "q230_recsys_backtest",
    "q199_label_propagation",
    "q204_knn_label_agreement",
    # q162 rides the same one-collect_set-exchange rewrite as q165
    "q162_basket_lift",
]

# Rows-only queries (oracle=None) sort last in the rotation, so once
# checked they effectively never re-enter a 50-slot window - yet a
# rows-only driver row is the only driver-side signal the query still
# RUNS.  This list reserves up to 5 window slots per round for
# rows-only entries whose defining source file changed in git AFTER
# the round that produced their last driver row (round-12 verdict #3).
# Generated by tools/gen_check_order.py from git history + artifacts.
# --- BEGIN GENERATED ROWSONLY (tools/gen_check_order.py) ---
_ROWSONLY_REFRESH: list[str] = [
    "q160_sliding_hll_wau",
    "q86_semdedup",
    "q89_bpe_vocab",
    "q90_training_prep_pipeline",
    "q157_kcore",
]
# --- END GENERATED ROWSONLY ---

# --- BEGIN GENERATED (tools/gen_check_order.py) ---
_LAST_DRIVER_ROUND: dict[str, int] = {
    "q01_scan_filter_project": 10,
    "q02_pushdown_shapes": 10,
    "q03_inner_join_agg": 11,
    "q04_broadcast_join": 11,
    "q05_multiway_join": 11,
    "q06_left_outer_join": 11,
    "q07_left_semi_join": 11,
    "q08_left_anti_join": 11,
    "q09_range_join": 11,
    "q100_heavy_hitters": 14,
    "q101_contrastive_pairs": 14,
    "q102_data_quality_checks": 13,
    "q103_metric_anomalies": 14,
    "q104_hll_sketch_union": 14,
    "q105_quality_percentile_rank": 14,
    "q106_fuzzy_match": 12,
    "q107_pareto_frontier": 14,
    "q108_hybrid_rrf": 14,
    "q109_pagerank": 13,
    "q10_asof_join": 11,
    "q110_cohort_retention": 14,
    "q111_event_funnel": 11,
    "q112_peak_concurrency": 14,
    "q113_event_transitions": 14,
    "q114_top_journeys": 14,
    "q115_metric_correlation": 14,
    "q116_gapfill_resample": 14,
    "q117_triangle_count": 13,
    "q118_trend_slope": 14,
    "q119_full_outer_reconcile": 13,
    "q11_cross_join": 11,
    "q120_source_vocab_overlap": 14,
    "q121_funnel_timing": 14,
    "q122_ab_welch": 14,
    "q123_spatial_radius_join": 14,
    "q124_top_supplier_view": 13,
    "q125_association_rules": 14,
    "q126_last_touch_attribution": 14,
    "q127_column_profile": 13,
    "q128_degree_distribution": 10,
    "q129_cusum_changepoint": 10,
    "q12_hash_agg_measures": 10,
    "q130_decayed_engagement": 10,
    "q131_mad_outliers": 10,
    "q132_rfm_segmentation": 10,
    "q133_bfs_reach": 13,
    "q134_scd2_pit_join": 10,
    "q135_mutual_information": 10,
    "q136_session_pattern": 10,
    "q137_largest_remainder_prorate": 11,
    "q138_trailing_actives": 13,
    "q139_quantile_normalize": 10,
    "q13_distinct_agg": 11,
    "q140_chi_square_independence": 10,
    "q141_ols_two_factor": 10,
    "q142_kaplan_meier_churn": 11,
    "q143_gini_concentration": 11,
    "q144_benford_first_digit": 10,
    "q145_time_weighted_avg": 10,
    "q146_winsorized_stats": 10,
    "q147_psi_drift": 10,
    "q148_lead_lag_xcorr": 10,
    "q149_user_feature_matrix": 10,
    "q14_rollup_grouping": 11,
    "q150_session_summary": 10,
    "q151_shipping_sla": 10,
    "q152_discount_elasticity": 10,
    "q153_supplier_hhi": 10,
    "q154_activity_heatmap": 10,
    "q155_cohort_ltv": 11,
    "q156_mix_shift_bridge": 11,
    "q157_kcore": 10,
    "q158_event_doublefire": 10,
    "q159_qq_table": 10,
    "q15_minmax_firstlast": 11,
    "q160_sliding_hll_wau": 9,
    "q161_ks_two_sample": 11,
    "q162_basket_lift": 14,
    "q163_ab_conversion_ztest": 10,
    "q164_mann_whitney_u": 10,
    "q165_copurchase_cosine": 14,
    "q166_user_kl_divergence": 10,
    "q167_last_touch_attribution": 10,
    "q168_shipping_priority": 14,
    "q169_order_priority_wait": 14,
    "q16_approx_count_distinct": 14,
    "q170_revenue_uplift": 14,
    "q171_volume_shipping": 14,
    "q172_market_share": 10,
    "q173_returned_items": 10,
    "q174_customer_distribution": 10,
    "q175_promo_revenue": 10,
    "q176_small_qty_revenue": 10,
    "q177_large_volume_customers": 10,
    "q178_waiting_suppliers": 10,
    "q179_dormant_rich_customers": 10,
    "q17_collect_sorted_list": 11,
    "q180_seasonal_dow_index": 14,
    "q181_wape_backtest": 14,
    "q182_floored_balance": 14,
    "q183_max_drawdown": 14,
    "q184_weekend_lift": 14,
    "q185_power_analysis": 14,
    "q186_markov2_transitions": 14,
    "q187_bot_burst_score": 14,
    "q188_revenue_retention": 14,
    "q189_vocab_growth": 9,
    "q18_ranking_topk": 11,
    "q190_bigram_perplexity": 9,
    "q191_abc_classification": 9,
    "q192_segment_migration": 9,
    "q193_customer_brand_hhi": 9,
    "q194_new_vs_returning": 9,
    "q195_repeat_purchase_cadence": 9,
    "q196_price_band_mix": 9,
    "q197_order_reconciliation": 9,
    "q198_laspeyres_index": 9,
    "q199_label_propagation": 14,
    "q19_analytic_lag_lead": 12,
    "q200_wilson_ranking": 9,
    "q201_grid_hotspot": 9,
    "q202_weekend_did": 9,
    "q203_label_separation": 9,
    "q204_knn_label_agreement": 14,
    "q205_position_attribution": 9,
    "q206_referential_integrity": 11,
    "q207_weekly_yoy": 9,
    "q208_order_backlog": 9,
    "q209_error_budget_burn": 9,
    "q20_gaps_and_islands": 12,
    "q210_incident_mttr": 9,
    "q211_traffic_burstiness": 9,
    "q212_supplier_scorecard": 9,
    "q213_join_skew_audit": 9,
    "q214_segment_basket_size": 9,
    "q215_discount_ladder": 9,
    "q216_order_regularity": 9,
    "q217_weighted_discount_percentiles": 11,
    "q218_theil_inequality": 11,
    "q219_robust_spread": 11,
    "q21_sort_limit_topk": 11,
    "q220_holt_forecast": 11,
    "q221_acf_ljung_box": 11,
    "q222_seasonal_decomposition": 11,
    "q223_countmin_heavy_hitters": 11,
    "q224_bloom_membership": 11,
    "q225_logreg_train": 11,
    "q226_kmeans_lloyd": 11,
    "q227_adamic_adar": 11,
    "q228_naive_bayes_langid": 11,
    "q229_poisson_bootstrap_ci": 11,
    "q22_set_operations": 12,
    "q230_recsys_backtest": 14,
    "q231_absorbing_markov": 13,
    "q232_holt_winters": 11,
    "q233_model_eval": 11,
    "q234_decision_stump": 11,
    "q235_sax_motifs": 11,
    "q236_markov_attribution": 13,
    "q237_adaboost_stumps": 13,
    "q238_shapley_attribution": 11,
    "q239_survivorship": 13,
    "q23_scalar_battery": 12,
    "q240_dbscan": 11,
    "q241_grid_outliers": 11,
    "q242_duplicated_spans": 12,
    "q243_top_copied_passages": 12,
    "q244_stratified_split": 12,
    "q245_sequence_packing": 12,
    "q246_containment_pairs": 12,
    "q247_hdf5_event_files": 12,
    "q248_label_medoids": 12,
    "q249_quantile_sketch": 12,
    "q24_array_battery": 12,
    "q250_kneser_ney_bigram": 13,
    "q251_embedding_anisotropy": 13,
    "q252_tokenizer_fertility": 13,
    "q253_embedding_spectrum": 13,
    "q254_dsir_selection": 13,
    "q255_ccnet_ppl_buckets": 13,
    "q256_gopher_rules": 13,
    "q257_temperature_mixture": 13,
    "q258_jl_projection_audit": 13,
    "q259_lsh_band_calibration": 13,
    "q25_tumbling_window": 12,
    "q260_blocklist_filter": 13,
    "q261_token_waterfill": 13,
    "q262_dedup_threshold_sweep": 13,
    "q263_image_phash_neardup": 13,
    "q264_simhash_hamming_calibration": 13,
    "q265_retrieval_ndcg": 13,
    "q26_sliding_window": 12,
    "q27_session_window": 12,
    "q28_prescale": 12,
    "q29_watermark_late_data": 14,
    "q30_interval_join_readout": 12,
    "q31_metadata_docs": 12,
    "q32_adler32_checksum": 14,
    "q33_tp_ta_reduction": 12,
    "q34_dromap_compile": 12,
    "q35_run_allocator": 12,
    "q36_config_rewrite": 11,
    "q37_metadata_etl_e2e": 12,
    "q40_dedup_exact": 12,
    "q41_dedup_ngram_jaccard": 12,
    "q42_dedup_minhash_lsh": 13,
    "q43_dedup_simhash": 13,
    "q44_sim_topk_cosine": 12,
    "q45_sim_ann_lsh": 13,
    "q46_text_langid": 12,
    "q47_text_quality": 12,
    "q48_token_count": 12,
    "q49_fingerprint": 12,
    "q50_multimodal_meta": 12,
    "q51_image_decode_stats": 13,
    "q52_video_frame_sample": 12,
    "q53_audio_stats": 12,
    "q54_embed_near_dup": 12,
    "q55_embed_near_dup_lsh": 13,
    "q56_sim_ann_ivf": 14,
    "q57_dedup_components": 13,
    "q58_corpus_profile": 12,
    "q59_salted_join": 12,
    "q60_pivot": 12,
    "q61_unpivot": 12,
    "q62_correlated_subquery": 12,
    "q63_text_clean": 12,
    "q64_stratified_sample": 12,
    "q65_contamination_check": 12,
    "q66_vocab_topk": 11,
    "q67_cube_grouping_sets": 12,
    "q68_metadata_json_docs": 12,
    "q69_sequence_packing": 12,
    "q70_mixture_rebalance": 12,
    "q71_repetition_score": 12,
    "q72_source_cap": 12,
    "q73_cluster_retention": 13,
    "q74_exact_percentiles": 12,
    "q75_boilerplate_shingles": 13,
    "q76_quality_funnel": 13,
    "q77_label_centroids": 13,
    "q78_doc_chunking": 13,
    "q79_pii_redaction": 14,
    "q80_url_domains": 14,
    "q81_unigram_surprisal": 13,
    "q82_keyword_extract": 14,
    "q83_source_drift": 14,
    "q84_bm25_search": 13,
    "q85_shard_assignment": 13,
    "q86_semdedup": 9,
    "q87_quality_classifier": 13,
    "q88_ngram_novelty": 13,
    "q89_bpe_vocab": 9,
    "q90_training_prep_pipeline": 9,
    "q91_pmi_collocations": 13,
    "q92_dup_cluster_sizes": 13,
    "q93_zipf_slope": 13,
    "q94_source_dup_rates": 13,
    "q95_readability": 14,
    "q96_curriculum_bins": 14,
    "q97_sim_ann_pq": 13,
    "q98_int8_quantization": 14,
    "q99_weighted_sample": 14,
}
# --- END GENERATED ---


def driver_ordered() -> dict[str, QuerySpec]:
    """Registry in driver-check-priority order (see comment above)."""
    specs = all_queries()
    names = list(specs)

    def key(n: str):
        oracle = specs[n].oracle is not None
        if n not in _LAST_DRIVER_ROUND:
            return (0, 0 if oracle else 1, names.index(n))
        if n in _RECHECK:
            return (1, 0, _RECHECK.index(n))
        if n in _ROWSONLY_REFRESH:
            return (1, 1, _ROWSONLY_REFRESH.index(n))
        return (2 if oracle else 3, _LAST_DRIVER_ROUND[n], names.index(n))

    return {n: specs[n] for n in sorted(names, key=key)}


def spark_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in driver_ordered().items()}


def oracle_sqls() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in driver_ordered().items() if spec.oracle is not None
    }
