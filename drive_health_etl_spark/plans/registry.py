"""Central query registry: name -> (spark_callable, oracle_sql | None).

Every SURVEY.md §2 inventory row that is SQL-expressible appears here with a
DuckDB oracle twin; rows-only entries (oracle_sql=None) are the genuinely
non-SQL ops (full envelope pipeline on generated fixtures, streaming).
``__spark_entry__.py`` is a thin view over this dict.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from drive_health_etl_spark.operators import asof as _asof
from drive_health_etl_spark.operators import corpus as _corpus
from drive_health_etl_spark.operators import dedup as _dedup
from drive_health_etl_spark.operators import featurize as _featurize
from drive_health_etl_spark.operators import expectations as _expectations
from drive_health_etl_spark.operators import graph as _graph
from drive_health_etl_spark.operators import grouped_pandas as _grouped
from drive_health_etl_spark.operators import layout as _layout
from drive_health_etl_spark.operators import classifier as _classifier
from drive_health_etl_spark.operators import multimodal as _multimodal
from drive_health_etl_spark.operators import quality as _quality
from drive_health_etl_spark import pipelines_decl as _sdp
from drive_health_etl_spark.operators import bpe as _bpe
from drive_health_etl_spark.operators import rollup as _rollup
from drive_health_etl_spark.operators import snapshots as _snapshots
from drive_health_etl_spark.operators import retrieval as _retrieval
from drive_health_etl_spark.operators import sessions as _sessions
from drive_health_etl_spark.operators import similarity as _similarity
from drive_health_etl_spark.operators import udtfs as _udtfs
from drive_health_etl_spark.operators import text as _text
from drive_health_etl_spark.plans import advanced as _advanced
from drive_health_etl_spark.plans import extended as _extended
from drive_health_etl_spark.plans import pipeline_queries as _pipeline
from drive_health_etl_spark.plans import relational as _relational
from drive_health_etl_spark.plans import scalar_suite as _scalar
from drive_health_etl_spark.plans import stats_suite as _stats
from drive_health_etl_spark.plans import tpch_suite as _tpch


def pipeline_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ingest chain (decode -> validate -> sample -> dedup -> warehouse
    rows) over envelopes derived from the events table, then the reference's
    verification aggregate (A1, ``scripts/04_verify.js``). Oracle-checked:
    the checked path runs ``normalize_phones=False`` (no Python boundary) and
    the fixture stream is native column expressions, so DuckDB can replay the
    whole chain — build the base64 envelope, decode, JSON-parse, validate
    truthiness + timestamp, coalesce the idempotency key, sha256-sample at
    0.75, first-write-wins dedup, aggregate (PIPELINE_INGEST_E2E_SQL)."""
    from pyspark.sql import functions as F

    from drive_health_etl_spark.operators.ingest import ingest
    from drive_health_etl_spark.sources.envelopes import messages_from_events

    raw = messages_from_events(spark, sf_dir)
    res = ingest(raw, audit_rate=0.75, normalize_phones=False)
    return (
        res.warehouse.groupBy("tenant_id", "event_type")
        .agg(F.count("*").alias("event_count"))
        .orderBy("tenant_id", "event_type")
    )


# DuckDB twin of the whole ingest chain. Mirrors every stage of
# ``operators/ingest.py`` over the same envelope construction as
# ``sources/envelopes.py:messages_from_events``: the exact JSON/base64 text
# need not byte-match Spark's (both sides decode it again); what must match
# bit-exactly is the idempotency key ('call-<event_id>') feeding the sha256
# sampling hash, the validation predicate, and the dedup/agg semantics.
PIPELINE_INGEST_E2E_SQL = """
WITH raw AS (
  SELECT
    to_base64(CAST(to_json({
      envelope_version: '1',
      event_type: event_type,
      schema_version: '1',
      tenant_id: 'org-' || CAST(user_id % 5 AS VARCHAR),
      occurred_at: strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') || 'Z',
      trace_id: 'trace-' || CAST(event_id AS VARCHAR),
      source: 'events-replay',
      payload: {call_id: 'call-' || CAST(event_id AS VARCHAR),
                duration: value, props_json: props}
    }) AS BLOB)) AS data,
    'm-' || CAST(event_id AS VARCHAR) AS message_id
  FROM events
),
decoded AS (
  SELECT message_id, decode(from_base64(data)) AS env FROM raw
),
parsed AS (
  SELECT message_id,
    json_extract_string(env, '$.envelope_version') AS envelope_version,
    json_extract_string(env, '$.event_type')       AS event_type,
    json_extract_string(env, '$.schema_version')   AS schema_version,
    json_extract_string(env, '$.tenant_id')        AS tenant_id,
    json_extract_string(env, '$.occurred_at')      AS occurred_at,
    json_extract_string(env, '$.trace_id')         AS trace_id,
    json_extract_string(env, '$.payload')          AS payload
  FROM decoded
),
keyed AS (
  SELECT *,
    COALESCE(NULLIF(json_extract_string(payload, '$.call_id'), ''),
             NULLIF(json_extract_string(payload, '$.message_id'), ''),
             NULLIF(trace_id, '')) AS idempotency_key
  FROM parsed
),
valid AS (
  SELECT * FROM keyed
  WHERE COALESCE(envelope_version, '') <> '' AND COALESCE(event_type, '') <> ''
    AND COALESCE(schema_version, '') <> ''   AND COALESCE(tenant_id, '') <> ''
    AND COALESCE(occurred_at, '') <> ''      AND COALESCE(payload, '') <> ''
    AND TRY_CAST(occurred_at AS TIMESTAMP) IS NOT NULL
    AND idempotency_key IS NOT NULL
),
sampled AS (
  SELECT * FROM valid
  WHERE ('0x' || substr(sha256(idempotency_key), 1, 8))::UBIGINT / 4294967295.0 < 0.75
),
dedup AS (
  SELECT tenant_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY idempotency_key ORDER BY message_id) AS rn
  FROM sampled
)
SELECT tenant_id, event_type, COUNT(*) AS event_count
FROM dedup WHERE rn = 1
GROUP BY tenant_id, event_type
ORDER BY tenant_id, event_type
"""


from drive_health_etl_spark.streaming.spool import drain, scratch, spool


def st_stateful_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming (applyInPandasWithState) driven to
    completion: per-user running counters accumulated across TWO micro-batches
    (maxFilesPerTrigger=1), final snapshot per user. The oracle is the plain
    batch aggregate — state accumulation across batches must converge to it."""
    from pyspark.sql import functions as F

    from drive_health_etl_spark.sources.tables import load_table
    from drive_health_etl_spark.streaming.stateful import stateful_user_counters

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    with scratch(spark, "dhe_stateful_") as tmp:
        stream = spool(events, F.col("event_id") % 2, f"{tmp}/src")
        q = drain(stateful_user_counters(stream), tmp)
    return spark.sql(
        f"""
        SELECT user_id, n_events, ROUND(total_value, 6) AS total_value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) AS rn
          FROM {q.name}
        ) WHERE rn = 1
        """
    )


def st_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join driven to completion: click->purchase attribution
    (same user, purchase within 30 min after the click) with both sides as
    watermarked streams. One availableNow batch so no row is beyond the
    watermark when matched; the oracle is the equivalent batch range join."""
    from pyspark.sql import functions as F

    from drive_health_etl_spark.sources.tables import load_table
    from drive_health_etl_spark.streaming.joins import purchase_attribution

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    with scratch(spark, "dhe_ssj_") as tmp:
        q = drain(purchase_attribution(spool(events, F.lit(0), f"{tmp}/src")), tmp)
    return spark.sql(f"SELECT click_id, purchase_id, user_id, lag_us FROM {q.name}")


def st_stream_stream_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join driven to completion: click->purchase
    attribution where clicks with NO purchase inside 30 min still emit a
    null row — but only once the join can provably never match, i.e. the
    GLOBAL watermark (the MIN across both stream sides, Spark's
    multipleWatermarkPolicy default) has passed click_ts + 30 min. The
    oracle replays exactly that emission rule: matched rows always, null
    rows only for clicks older than LEAST(max click ts, max purchase ts)
    - 1s - 30min. This pins the state-eviction semantics every outer
    stream-stream user depends on (inner results stream out immediately;
    outer nulls wait for the watermark)."""
    from pyspark.sql import functions as F

    from drive_health_etl_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    with scratch(spark, "dhe_ssl_") as tmp:
        stream = spool(events, F.lit(0), f"{tmp}/src")
        clicks = (
            stream.filter(F.col("event_type") == "click").withWatermark("ts", "1 second").alias("c")
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .withWatermark("ts", "1 second")
            .alias("p")
        )
        joined = clicks.join(
            purchases,
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") >= F.col("c.ts"))
            & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 30 MINUTES")),
            "left_outer",
        ).select(
            F.col("c.event_id").alias("click_id"),
            F.col("p.event_id").alias("purchase_id"),
            F.col("c.user_id").alias("user_id"),
            (F.unix_micros(F.col("p.ts")) - F.unix_micros(F.col("c.ts"))).alias("lag_us"),
        )
        q = drain(joined, tmp)
    return spark.sql(f"SELECT click_id, purchase_id, user_id, lag_us FROM {q.name}")


ST_STREAM_STREAM_LEFT_SQL = """
WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
wm AS (
  SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
         - INTERVAL 1 SECOND AS w
)
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
FROM c LEFT JOIN p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE p.event_id IS NOT NULL
   OR c.ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
"""


def st_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native streaming dedup (``dropDuplicatesWithinWatermark``)
    driven to completion: the source spool carries every event TWICE; the
    operator must emit each exactly once. Complements ST3's foreachBatch
    anti-join dedup — this is the built-in state-store path with watermark-
    bounded state (the 100 TB-stream answer to unbounded dedup state). The
    duplicates ride in one availableNow batch so none can be dropped as
    late; the oracle is plain DISTINCT."""
    from pyspark.sql import functions as F

    from drive_health_etl_spark.sources.tables import load_table
    from drive_health_etl_spark.streaming.stateful import dedup_events

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    with scratch(spark, "dhe_dedup_") as tmp:
        q = drain(dedup_events(spool(events.union(events), F.lit(0), f"{tmp}/src")), tmp)
    return spark.sql(f"SELECT event_id, user_id, ts, value FROM {q.name}")


ST_STREAM_DEDUP_SQL = """
SELECT DISTINCT event_id, user_id, ts, value FROM events
"""


STREAM_STATIC_HEAVY_MIN = 50  # events/user to count as a "heavy" user


def st_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join driven to completion: the event stream
    joins a STATIC per-user profile dimension (total event count, computed
    batch-side), then aggregates per event type — the canonical streaming
    enrichment shape (stream fact + slowly-changing broadcast dim). The
    static side is re-planned per micro-batch by Structured Streaming, which
    is exactly how dim refreshes become visible mid-stream at scale; with
    one availableNow batch the oracle is the plain batch join."""
    from pyspark.sql import functions as F

    from drive_health_etl_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    profile = events.groupBy("user_id").agg(F.count("*").alias("n_total"))
    with scratch(spark, "dhe_sse_") as tmp:
        enriched = spool(events, F.lit(0), f"{tmp}/src").join(F.broadcast(profile), "user_id")
        agg = enriched.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("n_total") >= STREAM_STATIC_HEAVY_MIN).cast("long")).alias("n_heavy"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 6).alias(
                "sum_value"
            ),
        )
        q = drain(agg, tmp, output_mode="complete")
    return spark.sql(f"SELECT event_type, n_events, n_heavy, sum_value FROM {q.name}")


ST_STREAM_STATIC_SQL = f"""
WITH prof AS (SELECT user_id, COUNT(*) AS n_total FROM events GROUP BY user_id)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN n_total >= {STREAM_STATIC_HEAVY_MIN} THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_value
FROM events JOIN prof USING (user_id)
GROUP BY event_type
"""


ST_STREAM_STREAM_SQL = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


ST_STATEFUL_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS total_value
FROM events GROUP BY user_id
"""


def st_lake_merge_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE INTO the versioned lake: a CDC-style change stream
    (updates, then deletes+inserts, as two micro-batches) applies through
    ``merge_into`` + ``commit_snapshot`` inside ``foreachBatch`` — one
    atomic snapshot per micro-batch, the Delta streaming-MERGE pattern.
    The final table state must equal the single batch MERGE (the change
    sets are key-disjoint, so batch boundaries cannot change the result —
    that invariance is exactly what the oracle pins)."""
    from pyspark.sql import functions as F

    from drive_health_etl_spark.operators.snapshots import (
        commit_snapshot,
        merge_into,
        read_snapshot,
    )
    from drive_health_etl_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    updates = events.filter(F.col("event_id") % 10 == 0).select(
        "event_id", "user_id", "ts", "event_type",
        (F.col("value") + 1000).alias("value"), F.lit("U").alias("op"),
    )
    dels_ins = (
        events.filter(F.col("event_id") % 10 == 5)
        .select("event_id", "user_id", "ts", "event_type", "value", F.lit("D").alias("op"))
        .unionByName(
            events.filter(F.col("event_id") % 10 == 7).select(
                (F.col("event_id") + 10_000_000).alias("event_id"),
                "user_id", "ts",
                F.lit("backfill").alias("event_type"),
                "value", F.lit("I").alias("op"),
            )
        )
    )
    with scratch(spark, "dhe_stmerge_") as tmp:
        table = f"{tmp}/table"
        commit_snapshot(events, table, mode="append")
        # micro-batch 0 = the updates, 1 = the deletes + inserts
        stream = spool(updates.unionByName(dels_ins), (F.col("op") != "U").cast("int"), f"{tmp}/src")

        def _apply(batch, _id):
            if batch.isEmpty():
                return
            merged = merge_into(read_snapshot(spark, table), batch, key="event_id")
            commit_snapshot(merged, table, mode="overwrite")

        drain(stream, tmp, foreach_batch=_apply)
        return read_snapshot(spark, table).localCheckpoint(eager=True)


from drive_health_etl_spark.streaming.corpus_stream import (
    _st_corpus_dedup_sql,
    st_corpus_dedup,
    st_corpus_tokenize,
)
from drive_health_etl_spark.operators.bpe import TEXT_BPE_SUBWORD_ENCODE_SQL as _SUBWORD_ENC_SQL
from drive_health_etl_spark.streaming.sprt_stream import (
    ST_SPRT_MONITOR_SQL,
    st_sprt_monitor,
)
from drive_health_etl_spark.streaming.media_stream import (
    ST_MEDIA_DECODE_SQL,
    st_media_decode,
)

_MERGED: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "st_corpus_dedup": (st_corpus_dedup, _st_corpus_dedup_sql()),
    # tokenization is row-local and batch-invariant: the streaming twin
    # shares the batch subword-encode oracle verbatim (full value hash)
    "st_corpus_tokenize": (st_corpus_tokenize, _SUBWORD_ENC_SQL),
    "st_media_decode": (st_media_decode, ST_MEDIA_DECODE_SQL),
    "st_sprt_monitor": (st_sprt_monitor, ST_SPRT_MONITOR_SQL),
    "st_lake_merge_stream": (st_lake_merge_stream, _snapshots.LAKE_MERGE_SQL),
    "st_stateful_counters": (st_stateful_counters, ST_STATEFUL_SQL),
    "st_stream_stream_join": (st_stream_stream_join, ST_STREAM_STREAM_SQL),
    "st_stream_stream_left": (st_stream_stream_left, ST_STREAM_STREAM_LEFT_SQL),
    "st_stream_dedup": (st_stream_dedup, ST_STREAM_DEDUP_SQL),
    "st_stream_static_enrich": (st_stream_static_enrich, ST_STREAM_STATIC_SQL),
    **_relational.QUERIES,
    **_tpch.QUERIES,
    **_pipeline.QUERIES,
    **_extended.QUERIES,
    **_advanced.QUERIES,
    **_layout.QUERIES,
    **_expectations.QUERIES,
    **_scalar.QUERIES,
    **_stats.QUERIES,
    **_text.QUERIES,
    **_quality.QUERIES,
    **_corpus.QUERIES,
    **_featurize.QUERIES,
    **_graph.QUERIES,
    **_dedup.QUERIES,
    **_similarity.QUERIES,
    **_multimodal.QUERIES,
    **_grouped.QUERIES,
    **_asof.QUERIES,
    **_sessions.QUERIES,
    **_retrieval.QUERIES,
    **_udtfs.QUERIES,
    **_snapshots.QUERIES,
    **_rollup.QUERIES,
    **_bpe.QUERIES,
    **_sdp.QUERIES,
    **_classifier.QUERIES,
    "pipeline_ingest_e2e": (pipeline_ingest_e2e, PIPELINE_INGEST_E2E_SQL),
}

# Iteration order is part of the external contract: a budget-capped checker
# walking `queries()` front-to-back should verify the highest-signal set
# first. Order: (1) the flagship pipeline + at least one query per SURVEY §2
# inventory id, all cheap; (2) the LLM-data-pipeline suite (dedup /
# similarity / text / corpus / sessions / retrieval — breadth before depth);
# (3) headline analytics; (4) queries with one-time Python/streaming worker
# startup or iterative cost, so they never crowd out cheap coverage under a
# time budget; (5) the long tail of suite queries.
_ORDER = [
    # (1) flagship + §2 core
    "pipeline_ingest_e2e",
    "o1_required_filter", "o2_timestamp_validity", "o3_key_coalesce",
    "o4_status_router", "o5_sink_error_router", "o6_sampling_filter",
    "o7_filter_conj", "o8_projection_rename",
    "s4_row_construct", "s9_table_stats", "st6_replay_routing",
    "f1_phone_normalize", "f5_base64_roundtrip", "f6_variant_json",
    "f7_json_extract", "f9_date_group", "f12_error_match", "f13_map_functions",
    "a1_group_count", "a2_dup_check", "a4_sampling_rate_observed",
    "a5_agg_suite", "a5_rollup", "a5_cube",
    "j1_inner_equi", "j2_broadcast_dims", "j3_left_outer", "j3_full_outer",
    "j4_semi", "j4_anti", "j5_range_join", "j6_star_join",
    "t1_sort_desc", "t2_topk", "t3_union", "t3_intersect", "t3_except",
    "t3b_set_ops_all",
    "w1_first_write_wins", "w2_rank_topn", "w3_lag_gap", "w4_running_sum",
    "st8_tumbling_window", "st8_sliding_window", "st8_session_window",
    "st8_session_dynamic_gap",
    "dq_profile", "dq_constraints", "dq_expectations", "cdc_snapshot_diff",
    "cdc_apply_changelog", "scd2_order_status",
    "j7_bloom_prefilter_join", "j8_skew_salted_join",
    "w11_interval_concurrency", "w12_ewma_smooth", "dq_psi_drift",
    "sketch_bitmap_distinct",
    "sql_ansi_parity", "sql_sugar_suite",
    # (2) LLM-data-pipeline suite, breadth-first (cheap members)
    "dedup_exact", "dedup_minhash_signatures", "dedup_minhash_pairs",
    "dedup_collapse", "dedup_keep_best", "dedup_simhash",
    "dedup_ngram_jaccard", "dedup_containment", "dedup_embedding_near",
    "dedup_exactsubstr_spans",
    "link_entity_resolution",
    "text_tokens", "text_sentences", "text_keyphrases_rake", "text_readability",
    "text_word_freq",
    "text_quality",
    "text_fingerprint",
    "text_langid", "text_langid_eval", "text_bpe_token_count", "text_lang_dist",
    "sim_cosine_topk", "sim_lsh_buckets", "sim_ann_lsh",
    "sim_ann_lsh_multiprobe", "sim_mmr_rerank", "emb_norm_stats",
    "emb_quantize_stats",
    "emb_dim_energy", "emb_pq_stats", "emb_centroid_drift",
    "sess_stats", "sess_funnel", "sess_daily", "sess_rolling_actives",
    "sess_conversion_lag", "sess_retention_cohorts", "sess_cohort_value",
    "sess_new_vs_returning", "sess_interarrival_hist",
    "sess_daily_gapfill",
    "sess_event_assoc", "ts_anomaly_dow", "sess_attribution",
    "text_inverted_index", "text_bm25", "text_vocab_oov",
    "feat_hashing_tf", "feat_tfidf_top_terms",
    "corpus_stratified_split", "corpus_importance_sample",
    "corpus_reservoir_per_source",
    "corpus_chunk_windows", "corpus_pack_sequences", "corpus_curriculum_order",
    "corpus_shard_balance",
    "corpus_span_dedup",
    "text_gopher_rules", "text_repetition", "text_pii_scrub",
    "text_decontaminate", "text_boilerplate", "text_bigram_logprob",
    "text_url_canonical",
    "corpus_kl_drift",
    "asof_last_purchase", "asof_next_within", "emb_gram_topk", "emb_power_iteration",
    "retrieval_eval_ndcg",
    "multimodal_bytes", "multimodal_decode_stats", "multimodal_audio_stats",
    "multimodal_phash_neardup", "multimodal_audio_match",
    "multimodal_jpeg_bytes", "multimodal_mjpeg_stats", "multimodal_mjpeg_p_stats",
    "multimodal_adpcm_stats",
    "multimodal_gif_stats", "multimodal_png_adam7_stats", "multimodal_flac_stats",
    # (3) headline analytics
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "a5_grouping_sets", "w2b_rank_dense",
    "w5_distribution_funcs", "w6_value_funcs", "w7_zscore_outliers",
    "w8_range_frame", "w9_impute_ffill", "w10_mad_outliers",
    "w13_interpolate_linear", "w15_percent_of_total", "dq_freshness",
    "dq_pk_audit", "sketch_cms_merge",
    "sql_recursive_cte", "sql_pipe_syntax", "sql_scripting",
    "sql_session_variables", "multimodal_video_scenecut",
    "sub_lateral_join", "f_bitwise_suite", "a9_agg_filter", "t7_generators",
    "sketch_distinct_hll", "sketch_top_k", "sketch_quantile_check",
    "sketch_rolling_wau", "sketch_theta_overlap",
    "j5b_binned_range_join", "layout_zorder_stats", "layout_hilbert_stats",
    "corpus_source_overlap", "graph_triangles", "graph_label_propagation",
    "a6_listagg", "a7_winsorize", "u3_grouped_map_features", "u3_cogroup_join",
    "corpus_mix_resample", "feat_equidepth_bins", "basket_part_pairs",
    "rfm_segments", "sess_markov_transitions", "sess_journey_paths",
    "sql_execute_immediate",
    "stat_chi2_independence", "stat_mann_whitney", "stat_ols_trend", "ts_acf",
    "stat_ab_proportion", "stat_zipf_exponent", "stat_ks_test",
    "stat_anova_oneway", "ts_max_drawdown", "stat_kruskal_wallis",
    "stat_correlation",
    "dq_reconcile_orders",
    "ts_cusum_changepoint", "ts_holt_linear", "ts_seasonal_decompose",
    "ts_residual_anomalies", "ts_streaks",
    "graph_bfs_distances", "sketch_cms_estimate", "feat_target_encoding",
    # (4) one-time-startup / iterative cost
    "sim_ann_lsh_multitable", "sim_ann_ivf", "sim_ann_pq_adc", "sim_adc_quality", "sim_ann_ivfpq", "sim_knn_classify",
    "dedup_semantic", "dedup_semantic_prune", "dedup_components", "dedup_near_pipeline",
    "dedup_lsh_quality", "dedup_lsh_scurve", "dedup_minhash_bias",
    "graph_pagerank", "corpus_prep_pipeline",
    "u4_udtf_chunks", "u5_grouped_agg_udaf", "u5_window_agg_udaf",
    "u6_arrow_udf", "u7_map_in_arrow", "u8_apply_in_arrow",
    "u9_udtf_polymorphic",
    "multimodal_resize_stats", "multimodal_video_stats",
    "st_stateful_counters", "st_stream_stream_join", "st_stream_stream_left",
    "st_stream_dedup", "st_corpus_dedup", "st_media_decode", "st_sprt_monitor",
    "text_bpe_train", "sdp_daily_rollup", "lake_time_travel", "lake_merge",
    "lake_schema_evolution", "lake_wap_publish", "lake_stats_pruned_read",
    "rollup_incremental", "st_stream_static_enrich", "sql_udf_suite",
    "st_lake_merge_stream",
]

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    **{name: _MERGED[name] for name in _ORDER},
    **{name: v for name, v in _MERGED.items() if name not in set(_ORDER)},
}
assert len(REGISTRY) == len(_MERGED), "ordering must not drop or invent queries"


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}
