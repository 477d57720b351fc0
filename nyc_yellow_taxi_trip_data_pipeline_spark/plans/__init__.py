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
# window starts from `python tools/window_planner.py`. r18 edited seven
# plan bodies (q170/q175/q189/q190/q192/q193/q194 now publish through
# `plans/cache.build_once`), so the ratchet makes them mandatory. q98
# and q167 ride in by hand: the ratchet hashes bodies only, and their
# `_signature_index` helper now builds through the same module (lesson
# 33). The rest is the planner's fill, oldest driver row first: the
# owed r13 sit-outs q63/q76/q86, then r14 vintage in name order.
# Slot math: 7 mandatory + 2 manual + 41 fill = 50. The r17 window is
# fully r17-verified, so rotating it out costs nothing.
# Sit-outs (the last eight r14 rows in name order; q55 loses its slot
# to q167), with double-coverage rationales:
# - q55_constraint_audit: FK orphans by anti-join -> q54_semi_anti_join
#   (IN this window, same left_anti machinery); null/range predicate
#   counts -> q04_null_counts (r17-green).
# - q62_fuzzy_editdistance: Levenshtein verify -> q182_editdist_neardup
#   (r17-green, over a blocked candidate set); blocked self-join ->
#   q35_embedding_neardup (IN this window).
# - q77_trimmed_mean_udaf: the 10% trim -> q86_trimmed_mean_udaf_bounded
#   (IN this window, same trim as a grouped-agg UDF) and
#   q140_winsorized_mean (r15-green, same exact-fence trimming core).
# - q81_streaming_dedup: dropDuplicatesWithinWatermark ->
#   q135_streaming_dedup_within_watermark (r17-green, same operator);
#   unioned-stream watermark -> q159_streaming_union_watermark_max (IN).
# - q83_blocked_neardup_srp: the bounded-block form of q35 ->
#   q35_embedding_neardup (IN, same per-block matmul) and
#   q36_ann_srp_bucket (IN, same SRP bucket key).
# - q85_multimodal_phash: the average-hash grid/threshold math ->
#   q113_media_neardup_phash (r15-green) and q150_media_neardup_capped
#   (r16-green), both over the same mapInPandas pHash stage.
# - q87_sequence_packing: the Arrow-batched pandas boundary ->
#   q28_pandas_udf_bucketing (IN); the per-doc token lengths it packs ->
#   q107_length_bucket_padding (r15-green).
# - q89_cross_source_contamination: train/benchmark overlap ->
#   q105_ngram_decontamination (r15-green, md5 fingerprints shared
#   across sources); exact normalized content -> q30_dedup_exact
#   (r17-green).
_PRIORITY = [
    # edited bodies (ratchet-mandatory)
    "q170_bucketed_ctas_join",
    "q175_dynamic_partition_pruning",
    "q189_partial_agg_rollup",
    "q190_processing_time_timer_eviction",
    "q192_zonemap_layout_skipping",
    "q193_event_time_timer_eviction",
    "q194_zorder_multidim_skipping",
    # deep-helper consumers of `_signature_index` (manual)
    "q98_incremental_dedup_indexed",
    "q167_keep_best_indexed",
    # planner fill, oldest driver row first (r13 sit-outs...)
    "q63_date_math",
    "q76_stream_stream_join",
    "q86_trimmed_mean_udaf_bounded",
    # (...then r14 vintage)
    "q100_summary_stats_sketch",
    "q12_error_metrics",
    "q131_cogroup_reconcile",
    "q13_distinct_months",
    "q14_ordered_limit",
    "q159_streaming_union_watermark_max",
    "q15_label_map",
    "q16_top_customers",
    "q17_priority_rollup",
    "q18_topk_per_segment",
    "q191_aqe_skew_join",
    "q195_merge_rounds_materialized",
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
    "q28_pandas_udf_bucketing",
    "q29_json_roundtrip",
    "q31_dedup_keep_first",
    "q35_embedding_neardup",
    "q36_ann_srp_bucket",
    "q43_sql_api",
    "q46_tfidf_topterms",
    "q47_moving_avg",
    "q48_grouped_quantiles",
    "q49_unpivot",
    "q50_correlation",
    "q51_upsert_merge",
    "q52_char_ngram_langid",
    "q53_winnowing",
    "q54_semi_anti_join",
]
# --- next rewrite (lesson 19) --- a later r18 body edit is mandatory
# and displaces fill from the END of the list (ROADMAP item 4's <=17
# streaming bodies: 9 + 17 = 26 <= 50). Owed after this window: the
# eight r14 sit-outs above, then r15 vintage (q102/q103/q104/...).
QUERIES_ORDERED = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
QUERIES_ORDERED.update(QUERIES)
QUERIES.clear()
QUERIES.update(QUERIES_ORDERED)

__all__ = ["QUERIES", "QuerySpec", "register"]
