"""Zero-row robustness: every operator family must plan AND execute on
empty tables (schema-only parquet) without raising — the edge every
incremental/backfill run eventually hits (an empty partition, a quiet day,
a filtered-out tenant). Value correctness is the oracle gate's job; this
suite asserts the engine degrades to empty results, not errors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from drive_health_etl_spark.plans.registry import REGISTRY
from drive_health_etl_spark.sources.tables import TABLES, load_table
from tests.conftest import SF_DIR

# One representative per family — chosen to cover the distinct execution
# shapes: windows, grouped aggs, self-joins, explodes, higher-order folds,
# percentile broadcasts, iterative graph, pandas paths, gap-fill grids.
EMPTY_SAFE = [
    "o7_filter_conj",
    "a1_group_count",
    "a5_agg_suite",
    "j6_star_join",
    "w1_first_write_wins",
    "w9_impute_ffill",
    "t2_topk",
    "sess_stats",
    "sess_daily_gapfill",
    "sess_event_assoc",
    "sess_retention_cohorts",
    "ts_anomaly_dow",
    "scd2_order_status",
    "dedup_exact",
    "dedup_prefix_join",
    "dedup_simhash",
    "dedup_keep_best",
    "text_quality",
    "text_boilerplate",
    "text_bigram_logprob",
    "text_trigram_kn_logprob",
    "graph_kcore",
    "multimodal_ulaw_stats",
    "emb_jl_projection",
    "feat_hashing_tf",
    "feat_tfidf_top_terms",
    "feat_equidepth_bins",
    "corpus_kl_drift",
    "corpus_temperature_mix",
    "corpus_reservoir_per_source",
    "basket_part_pairs",
    "link_entity_resolution",
    "emb_dim_energy",
    "sim_cosine_topk",
    "sim_ann_binary",
    "u3_grouped_map_features",
    "u5_grouped_agg_udaf",
    "graph_pagerank",
    "w11_interval_concurrency",
    "cdc_apply_changelog",
    "j7_bloom_prefilter_join",
    "j8_skew_salted_join",
    "retrieval_eval_ndcg",
    "w12_ewma_smooth",
    "dq_psi_drift",
    "sketch_bitmap_distinct",
    "sql_sugar_suite",
    "sql_udf_suite",
    "text_bpe_train",
    "text_bpe_encode",
    "text_bpe_vocab",
    "text_bpe_subword_train",
    "text_bpe_subword_encode",
    "text_wordpiece_train",
    "text_wordpiece_encode",
    "text_unigram_train",
    "text_unigram_encode",
    "emb_gram_topk",
    "asof_next_within",
    "sdp_daily_rollup",
    "stat_chi2_independence",
    "stat_bootstrap_ci",
    "stat_sprt_ab",
    "sess_survival_km",
    "dq_benford",
    "stat_mann_whitney",
    "stat_ols_trend",
    "stat_ab_proportion",
    "stat_zipf_exponent",
    "ts_acf",
    "ts_cusum_changepoint",
    "ts_holt_linear",
    "ts_holt_winters",
    "ts_seasonal_decompose",
    "sketch_cms_estimate",
    "graph_bfs_distances",
    "graph_label_propagation",
    "dedup_containment",
    "emb_centroid_drift",
    "feat_target_encoding",
    "sess_attribution",
    "multimodal_phash_neardup",
    "multimodal_audio_match",
    "multimodal_video_scenecut",
    "text_sentences",
    "corpus_curriculum_order",
    "dq_reconcile_orders",
    "sub_lateral_join",
    "f_bitwise_suite",
    "lake_merge",
    "lake_schema_evolution",
    "stat_ks_test",
    "stat_anova_oneway",
    "ts_max_drawdown",
    "text_keyphrases_rake",
    "text_readability",
    "sim_mmr_rerank",
    "sess_journey_paths",
    "sql_execute_immediate",
    "u9_udtf_polymorphic",
    "stat_kruskal_wallis",
    "stat_correlation",
    "ts_streaks",
    "dedup_minhash_bias",
    "sess_new_vs_returning",
    "sess_interarrival_hist",
    "sess_cohort_value",
    "w15_percent_of_total",
    "dq_pk_audit",
    "dq_freshness",
    "t7_generators",
    "text_url_canonical",
    "ts_residual_anomalies",
    "dedup_containment",
    "sim_ann_pq_adc",
    "quality_lr_train",
    "quality_lr_eval",
    "multimodal_png_stats",
    "multimodal_jpeg_stats",
    "multimodal_jpeg420_stats",
    "dq_k_anonymity",
    "dedup_edit_join",
    "stat_bh_fdr",
    "dq_dp_counts",
    "feat_woe_iv",
    "ts_sax_motifs",
    "stat_cuped",
    "stat_did",
    "graph_adamic_adar",
    "stat_srm_check",
    "dedup_suffix_lcs",
    "dedup_exactsubstr_clean",
    "sim_ann_ivfpq",
    "graph_hits",
]


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        df = load_table(spark, SF_DIR, t)
        df.filter(F.lit(False)).coalesce(1).write.mode("overwrite").parquet(
            str(out / f"{t}.parquet")
        )
    return str(out)


@pytest.mark.parametrize("name", EMPTY_SAFE)
def test_runs_empty(spark, empty_sf_dir, name):
    fn = REGISTRY[name][0]
    rows = fn(spark, empty_sf_dir).collect()
    assert rows == [] or all(r is not None for r in rows)
