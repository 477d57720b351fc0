"""Query plans: the oracle-checked operator inventory.

Each query exists twice: as an idiomatic Spark DataFrame/SQL program and as
an ANSI-SQL oracle string for DuckDB. The registry in ``registry.py`` binds
them; ``__spark_entry__.py`` exposes them to the driver.
"""

from nyc_yellow_taxi_trip_data_pipeline_spark.plans.registry import (
    QUERIES,
    QuerySpec,
    register,
)

# Importing the modules populates the registry.
from nyc_yellow_taxi_trip_data_pipeline_spark.plans import analytics  # noqa: E402,F401
from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe  # noqa: E402,F401

# The external driver verifies the FIRST 50 registered queries against the
# DuckDB oracle (CORRECTNESS_r{N}.json has a 50-row budget). Registration
# order therefore decides which queries earn a hard external row. The r18
# window starts from `python tools/window_planner.py`. r18 edited 26 plan
# bodies, so the ratchet makes them mandatory: seven publish through
# `plans/cache.build_once` (q170/q175/q189/q190/q192/q193/q194), the
# 17 streaming replays run through `streaming.pipeline`'s replay_query /
# drain_to_memory / replay_files (q190/q193 are in both sets; q76/q159
# moved up from fill), and nine scope their conf overrides through
# `session.scoped_conf` (q159/q170/q192/q194 already in; q191/q195 moved
# up from fill; q160/q187 new). q98 and q167 ride in by hand: the ratchet
# hashes bodies only, and their `_signature_index` helper now builds
# through `plans/cache` (lesson 33). The rest is the planner's fill,
# oldest driver row first: the owed r13 sit-outs q63/q86, then r14
# vintage in name order. Slot math: 26 mandatory + 2 manual + 22 fill =
# 50. The r17 window is fully r17-verified, so rotating it out costs
# nothing.
# Sit-outs (r14 rows, in name order), with double-coverage rationales:
# - q28_pandas_udf_bucketing: Arrow-batched scalar Python ->
#   q178_arrow_python_udf (r13-green, udf(useArrow=True)) and
#   q86_trimmed_mean_udaf_bounded (IN, pandas UDF over Arrow batches);
#   its time-of-day buckets -> q02_clean_features (r16-green, the
#   native CASE twin of the same semantics).
# - q29_json_roundtrip: row -> JSON text -> typed parse identity ->
#   q162_variant_roundtrip (r16-green, serialize + typed read-back
#   equals the source columns); the `to_kafka_json` envelope helper ->
#   tests/test_kafka_contract.py (broker-free, every run).
# - q31_dedup_keep_first: keep-first row_number window ->
#   q18_topk_per_segment (IN, same per-key ranking window) and
#   q58_rank_family (r16-green).
# - q35_embedding_neardup: SRP-bucket blocked cosine ->
#   q176_hard_negative_mining (r17-green, same SRP bucket key) and
#   q145_ann_recall_eval (r16-green).
# - q36_ann_srp_bucket: SRP-bucket ANN -> q145_ann_recall_eval (r16-green,
#   the same bucketing scored for recall) and q169_retrieval_ndcg
#   (r16-green).
# - q43_sql_api: spark.sql over registered views -> q57_grouping_sets
#   (r17-green) and q170_bucketed_ctas_join (IN, SQL text API).
# - q46_tfidf_topterms: tf/df explode + aggregations ->
#   q183_bm25_rational_rank (r17-green, same term/doc frequencies); top-k
#   per doc -> q18_topk_per_segment (IN).
# - q47_moving_avg: rows-frame window -> q21_asof_join (IN, rowsBetween)
#   and q142_forward_fill (r15-green).
# - q48_grouped_quantiles: exact grouped percentile -> q09_quantiles_iqr
#   (r16-green) and q97_grouped_mad_outliers (r15-green, per-group).
# - q49_unpivot: the reshape it inverts -> q22_pivot_counts (IN); a
#   row-generating projection -> q78_chunk_windows_udtf (r15-green).
# - q50_correlation: quantized integer co-moment sums ->
#   q146_integer_ols_trend (r16-green, same sums) and q188_spearman_trend
#   (r17-green).
# - q51_upsert_merge: latest-per-key merge -> q195_merge_rounds_materialized
#   (IN) and q115_streaming_upsert_totals (IN, keyed upsert).
# - q52_char_ngram_langid: langid -> q38_lang_id (r17-green); char n-gram
#   counts over raw text -> q103_repetition_filters (r15-green).
# - q53_winnowing: text fingerprints -> q39_fingerprint (r17-green); the
#   rows-frame window min -> q21_asof_join (IN, rowsBetween).
# - q54_semi_anti_join: left_anti -> q95_streaming_incremental_dedup (IN);
#   semi/anti membership audit -> q117_referential_integrity (r15-green).
# - q55_constraint_audit: FK orphans by anti-join ->
#   q117_referential_integrity (r15-green, same anti-join audit);
#   null/range predicate counts -> q04_null_counts (r17-green).
# - q62_fuzzy_editdistance: Levenshtein verify -> q182_editdist_neardup
#   (r17-green, over a blocked candidate set) and q123_lsh_verify_editdist
#   (r16-green, blocked candidates + edit distance).
# - q77_trimmed_mean_udaf: the 10% trim -> q86_trimmed_mean_udaf_bounded
#   (IN this window, same trim as a grouped-agg UDF) and
#   q140_winsorized_mean (r15-green, same exact-fence trimming core).
# - q83_blocked_neardup_srp: the bounded-block form of q35 -> SRP bucket
#   key in q176_hard_negative_mining (r17-green) and blocked cosine top-k
#   in q171_batch_ann_topk (r17-green).
# - q85_multimodal_phash: the average-hash grid/threshold math ->
#   q113_media_neardup_phash (r15-green) and q150_media_neardup_capped
#   (r16-green), both over the same mapInPandas pHash stage.
# - q87_sequence_packing: the Arrow-batched pandas boundary ->
#   q86_trimmed_mean_udaf_bounded (IN); the per-doc token lengths it
#   packs -> q107_length_bucket_padding (r15-green).
# - q89_cross_source_contamination: train/benchmark overlap ->
#   q105_ngram_decontamination (r15-green, md5 fingerprints shared
#   across sources); exact normalized content -> q30_dedup_exact
#   (r17-green).
_PRIORITY = [
    # edited bodies (ratchet-mandatory): plans/cache.build_once ...
    "q170_bucketed_ctas_join",
    "q175_dynamic_partition_pruning",
    "q189_partial_agg_rollup",
    "q192_zonemap_layout_skipping",
    "q194_zorder_multidim_skipping",
    # ... the streaming.pipeline replay harness ...
    "q190_processing_time_timer_eviction",
    "q193_event_time_timer_eviction",
    "q44_streaming_hourly",
    "q67_streaming_sessionize",
    "q76_stream_stream_join",
    "q80_stream_static_join",
    "q81_streaming_dedup",
    "q95_streaming_incremental_dedup",
    "q110_streaming_sliding_rate",
    "q115_streaming_upsert_totals",
    "q130_streaming_late_drop",
    "q133_stream_outer_join",
    "q134_chained_stateful",
    "q135_streaming_dedup_within_watermark",
    "q154_streaming_union_watermarks",
    "q159_streaming_union_watermark_max",
    "q172_streaming_session_window",
    # ... and session.scoped_conf (q159/q170/q192/q194 above)
    "q160_python_datasource_scan",
    "q187_runtime_bloom_join",
    "q191_aqe_skew_join",
    "q195_merge_rounds_materialized",
    # deep-helper consumers of `_signature_index` (manual)
    "q98_incremental_dedup_indexed",
    "q167_keep_best_indexed",
    # planner fill, oldest driver row first (r13 sit-outs...)
    "q63_date_math",
    "q86_trimmed_mean_udaf_bounded",
    # (...then r14 vintage)
    "q100_summary_stats_sketch",
    "q12_error_metrics",
    "q131_cogroup_reconcile",
    "q13_distinct_months",
    "q14_ordered_limit",
    "q15_label_map",
    "q16_top_customers",
    "q17_priority_rollup",
    "q18_topk_per_segment",
    "q196_compact_optimize",
    "q197_compact_bytes_optimize",
    "q19_set_ops",
    "q20_sessionization",
    "q21_asof_join",
    "q22_pivot_counts",
    "q23_hourly_rollup",
    "q24_revenue_by_nation",
    "q25_salted_agg",
    "q26_status_cube",
    "q27_grouped_zscore",
]
# --- next rewrite (lesson 19) --- the window is full: a later r18 body
# edit is mandatory and displaces fill from the END of the list. Owed
# after this window: the twenty-two r14 sit-outs above, then r15 vintage
# (q102/q103/q104/...).
QUERIES_ORDERED = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
QUERIES_ORDERED.update(QUERIES)
QUERIES.clear()
QUERIES.update(QUERIES_ORDERED)

__all__ = ["QUERIES", "QuerySpec", "register"]
