"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end engine round-trip
(transcripts table ← events, small files + equality deletes, FFD
compaction with merge-on-read, post-compaction scan). ``queries()`` /
``oracle_sql()`` cover the SURVEY.md §2 operator inventory plus the
training-data pipeline operators — 96 queries, ALL 96 of them
DuckDB-oracle-checked as of round 8 (the two former rows-only keys now
return a deterministic oracle-checkable slice while self-gating their
approximate/decode parts in-query: ``lsh_ann_topk`` gates LSH recall
≥ 0.6 against the exact set it returns; ``multimodal_features`` gates
the mapInPandas decode against JVM sha1 and returns the metadata
slice).

Ordering note: the driver records a bounded (50-row) prefix of this
dict, so the LEAST-driver-proven queries come FIRST. Round-8 order:
the 6 round-8 additions (changelog update images, CDC schema sync,
persisted ANN index, strict salted as-of, salted gapfill, changelog
rollup) and the 2 newly-oracled keys lead; then the 2 keys whose
behavior changed most this round (CDC hygiene defaults, rollup
recompute pinning); then the 40 keys whose last driver proof is
CORRECTNESS_r06 — exactly 50. The r7-proven keys take the tail
(including gapfill_locf / rollup_hist / rollup_refresh_maintain,
whose round-8 changes are replica-proven below). Every key, window or
not, is replica-checked every round by tests/test_oracle_parity.py
(same row-count + schema + value-multiset comparison at sf0.01).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iceberg_compaction_spark import queries as Q  # noqa: E402
from iceberg_compaction_spark import queries_pipeline as QP  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QP.q_transcripts_compaction_roundtrip(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- round 8: never driver-checked yet ---
        "changelog_updates": QP.q_changelog_updates,
        "cdc_schema_sync": QP.q_cdc_schema_sync,
        "incremental_ann": QP.q_incremental_ann,
        "asof_join_strict": QP.q_asof_join_strict,
        "gapfill_locf_salted": QP.q_gapfill_locf_salted,
        "rollup_refresh_changelog": QP.q_rollup_refresh_changelog,
        # --- newly oracle-backed this round (rows-only in r7) ---
        "lsh_ann_topk": QP.q_lsh_ann_topk,
        "multimodal_features": QP.q_multimodal_features,
        # --- behavior changed most this round: re-prove in-window ---
        "cdc_replicate": QP.q_cdc_replicate,
        "rollup_refresh": QP.q_rollup_refresh,
        # --- round-8 rotation: the 40 keys whose last driver proof is
        # --- CORRECTNESS_r06 come next, so every query's driver proof
        # --- stays at most two rounds old ---
        "hashed_classifier": QP.q_hashed_classifier,
        "line_cleaning": QP.q_line_cleaning,
        "bucket_pruned_lookup": QP.q_bucket_pruned_lookup,
        "pii_redaction": QP.q_pii_redaction,
        "datasource_write_roundtrip": QP.q_datasource_write_roundtrip,
        "orphan_files_antijoin": Q.q_orphan_files_antijoin,
        "minhash_band_signatures": QP.q_minhash_band_signatures,
        "mor_position_delete": Q.q_mor_position_delete,
        "merge_upsert_dedup": Q.q_merge_upsert_dedup,
        "exact_dedup": QP.q_exact_dedup,
        "ngram_jaccard_pairs": QP.q_ngram_jaccard_pairs,
        "zorder_key": Q.q_zorder_key,
        "hilbert_key": Q.q_hilbert_key,
        "pricing_summary": Q.q_pricing_summary,
        "sessionization": Q.q_sessionization,
        "hot_keys": Q.q_hot_keys,
        "salted_aggregation": Q.q_salted_aggregation,
        "topk_per_conversation": Q.q_topk_per_conversation,
        "corpus_filter": QP.q_corpus_filter,
        "delete_counts": Q.q_delete_counts,
        "commit_summary_rollup": Q.q_commit_summary_rollup,
        "size_histogram": Q.q_size_buckets,
        "group_totals": Q.q_group_totals,
        "parallelism_formula": Q.q_parallelism_formula,
        "transcripts_compaction_roundtrip": QP.q_transcripts_compaction_roundtrip,
        "maintenance_lifecycle_scan": QP.q_maintenance_lifecycle_scan,
        "wap_publish_scan": QP.q_wap_publish_scan,
        "rollback_scan": QP.q_rollback_scan,
        "partition_evolution_scan": QP.q_partition_evolution_scan,
        "update_where_roundtrip": QP.q_update_where_roundtrip,
        "analyze_column_stats": QP.q_analyze_column_stats,
        "partition_counts": QP.q_partition_counts,
        "metadata_count_with_deletes": QP.q_metadata_count_with_deletes,
        "changelog_scan": QP.q_changelog_scan,
        "incremental_scan": QP.q_incremental_scan,
        "metadata_count": QP.q_metadata_count,
        "minmax_pushdown": QP.q_minmax_pushdown,
        "schema_evolution_scan": QP.q_schema_evolution_scan,
        "rename_evolution_scan": QP.q_rename_evolution_scan,
        "type_evolution_scan": QP.q_type_evolution_scan,
        # --- tail: proven green in CORRECTNESS_r07 and replica-checked
        # --- every round by tests/test_oracle_parity.py (the salted
        # --- as-of's default path is byte-identical to its r7 form) ---
        "gapfill_locf": QP.q_gapfill_locf,
        "rollup_hist": QP.q_rollup_hist,
        "rollup_refresh_maintain": QP.q_rollup_refresh_maintain,
        "asof_join_salted": QP.q_asof_join_salted,
        "asof_join_nearest": QP.q_asof_join_nearest,
        "delete_where_roundtrip": QP.q_delete_where_roundtrip,
        "merge_into_roundtrip": QP.q_merge_into_roundtrip,
        "time_travel_scan": QP.q_time_travel_scan,
        "clustered_compaction_roundtrip": QP.q_clustered_compaction_roundtrip,
        "bloom_point_lookup": QP.q_bloom_point_lookup,
        "pruned_range_scan": QP.q_pruned_range_scan,
        "pruned_or_scan": QP.q_pruned_or_scan,
        "paragraph_dedup": QP.q_paragraph_dedup,
        "mor_equality_delete_seq": Q.q_mor_equality_delete_seq,
        "small_files_selection": Q.q_small_files_selection,
        "ffd_binpack_window": Q.q_ffd_binpack_window,
        "delete_file_dedup": Q.q_delete_file_dedup,
        "snapshot_expiry_filter": Q.q_snapshot_expiry_filter,
        "stream_sessionization": QP.q_stream_sessionization,
        "neardup_clusters": QP.q_neardup_clusters,
        "eq_delete_consolidation": QP.q_eq_delete_consolidation,
        "spec_migration_scan": QP.q_spec_migration_scan,
        "decontamination": QP.q_decontamination,
        "stratified_sample": QP.q_stratified_sample,
        "repetition_metrics": QP.q_repetition_metrics,
        "conversation_stats": QP.q_conversation_stats,
        "merge_cow_roundtrip": QP.q_merge_cow_roundtrip,
        "doc_chunks": QP.q_doc_chunks,
        "packed_sequences": QP.q_packed_sequences,
        "datasource_scan": QP.q_datasource_scan,
        "bm25_relevance": QP.q_bm25_relevance,
        "simhash_fingerprint": QP.q_simhash_fingerprint,
        "text_analysis": QP.q_text_analysis,
        "winnow_fingerprints": QP.q_winnow_fingerprints,
        "embedding_topk": QP.q_embedding_topk,
        "embedding_dedup": QP.q_embedding_dedup,
        "ivf_ann_topk": QP.q_ivf_ann_topk,
        "filtered_rewrite_scan": QP.q_filtered_rewrite_scan,
        "incremental_dedup": QP.q_incremental_dedup,
        "asof_join": QP.q_asof_join,
        "asof_join_forward": QP.q_asof_join_forward,
        "range_join": QP.q_range_join,
        "duplicate_spans": QP.q_duplicate_spans,
        "span_trim": QP.q_span_trim,
        "mixture_resample": QP.q_mixture_resample,
        "export_shards": QP.q_export_shards,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "changelog_updates": QP.CHANGELOG_UPDATES_SQL,
        "cdc_schema_sync": QP.CDC_SCHEMA_SYNC_SQL,
        "incremental_ann": QP.INCREMENTAL_ANN_SQL,
        "asof_join_strict": QP.ASOF_JOIN_STRICT_SQL,
        "gapfill_locf_salted": QP.GAPFILL_LOCF_SALTED_SQL,
        "rollup_refresh_changelog": QP.ROLLUP_REFRESH_CHANGELOG_SQL,
        "lsh_ann_topk": QP.LSH_ANN_TOPK_SQL,
        "multimodal_features": QP.MULTIMODAL_FEATURES_SQL,
        "cdc_replicate": QP.CDC_REPLICATE_SQL,
        "gapfill_locf": QP.GAPFILL_LOCF_SQL,
        "rollup_hist": QP.ROLLUP_HIST_SQL,
        "rollup_refresh": QP.ROLLUP_REFRESH_SQL,
        "rollup_refresh_maintain": QP.ROLLUP_REFRESH_MAINTAIN_SQL,
        "asof_join_salted": QP.ASOF_JOIN_SALTED_SQL,
        "asof_join_nearest": QP.ASOF_JOIN_NEAREST_SQL,
        "filtered_rewrite_scan": QP.FILTERED_REWRITE_SCAN_SQL,
        "incremental_dedup": QP.INCREMENTAL_DEDUP_SQL,
        "asof_join": QP.ASOF_JOIN_SQL,
        "asof_join_forward": QP.ASOF_JOIN_FORWARD_SQL,
        "range_join": QP.RANGE_JOIN_SQL,
        "duplicate_spans": QP.DUPLICATE_SPANS_SQL,
        "span_trim": QP.SPAN_TRIM_SQL,
        "mixture_resample": QP.MIXTURE_RESAMPLE_SQL,
        "export_shards": QP.EXPORT_SHARDS_SQL,
        "hashed_classifier": QP.HASHED_CLASSIFIER_SQL,
        "line_cleaning": QP.LINE_CLEANING_SQL,
        "bucket_pruned_lookup": QP.BUCKET_PRUNED_LOOKUP_SQL,
        "pii_redaction": QP.PII_REDACTION_SQL,
        "datasource_write_roundtrip": QP.DATASOURCE_WRITE_ROUNDTRIP_SQL,
        "eq_delete_consolidation": QP.EQ_DELETE_CONSOLIDATION_SQL,
        "spec_migration_scan": QP.SPEC_MIGRATION_SCAN_SQL,
        "decontamination": QP.DECONTAMINATION_SQL,
        "stratified_sample": QP.STRATIFIED_SAMPLE_SQL,
        "repetition_metrics": QP.REPETITION_METRICS_SQL,
        "conversation_stats": QP.CONVERSATION_STATS_SQL,
        # CoW merge produces the IDENTICAL relation as the MoR twin —
        # same oracle by design
        "merge_cow_roundtrip": QP.MERGE_INTO_ROUNDTRIP_SQL,
        "doc_chunks": QP.DOC_CHUNKS_SQL,
        "packed_sequences": QP.PACKED_SEQUENCES_SQL,
        "datasource_scan": QP.DATASOURCE_SCAN_SQL,
        "bm25_relevance": QP.BM25_RELEVANCE_SQL,
        "simhash_fingerprint": QP.SIMHASH_FINGERPRINT_SQL,
        "text_analysis": QP.TEXT_ANALYSIS_SQL,
        "winnow_fingerprints": QP.WINNOW_FINGERPRINTS_SQL,
        "embedding_topk": QP.EMBEDDING_TOPK_SQL,
        "embedding_dedup": QP.EMBEDDING_DEDUP_SQL,
        "ivf_ann_topk": QP.IVF_ANN_TOPK_SQL,
        "transcripts_compaction_roundtrip": QP.TRANSCRIPTS_COMPACTION_ROUNDTRIP_SQL,
        "maintenance_lifecycle_scan": QP.MAINTENANCE_LIFECYCLE_SCAN_SQL,
        "wap_publish_scan": QP.WAP_PUBLISH_SCAN_SQL,
        "rollback_scan": QP.ROLLBACK_SCAN_SQL,
        "partition_evolution_scan": QP.PARTITION_EVOLUTION_SCAN_SQL,
        "update_where_roundtrip": QP.UPDATE_WHERE_ROUNDTRIP_SQL,
        "analyze_column_stats": QP.ANALYZE_COLUMN_STATS_SQL,
        "partition_counts": QP.PARTITION_COUNTS_SQL,
        "metadata_count_with_deletes": QP.METADATA_COUNT_WITH_DELETES_SQL,
        "changelog_scan": QP.CHANGELOG_SCAN_SQL,
        "incremental_scan": QP.INCREMENTAL_SCAN_SQL,
        "metadata_count": QP.METADATA_COUNT_SQL,
        "minmax_pushdown": QP.MINMAX_PUSHDOWN_SQL,
        "schema_evolution_scan": QP.SCHEMA_EVOLUTION_SCAN_SQL,
        "rename_evolution_scan": QP.RENAME_EVOLUTION_SCAN_SQL,
        "type_evolution_scan": QP.TYPE_EVOLUTION_SCAN_SQL,
        "delete_where_roundtrip": QP.DELETE_WHERE_ROUNDTRIP_SQL,
        "merge_into_roundtrip": QP.MERGE_INTO_ROUNDTRIP_SQL,
        "time_travel_scan": QP.TIME_TRAVEL_SCAN_SQL,
        "clustered_compaction_roundtrip": QP.CLUSTERED_COMPACTION_ROUNDTRIP_SQL,
        "bloom_point_lookup": QP.BLOOM_POINT_LOOKUP_SQL,
        "pruned_range_scan": QP.PRUNED_RANGE_SCAN_SQL,
        "pruned_or_scan": QP.PRUNED_OR_SCAN_SQL,
        "paragraph_dedup": QP.PARAGRAPH_DEDUP_SQL,
        "mor_equality_delete_seq": Q.MOR_EQUALITY_DELETE_SEQ_SQL,
        "small_files_selection": Q.SMALL_FILES_SELECTION_SQL,
        "ffd_binpack_window": Q.FFD_BINPACK_WINDOW_SQL,
        "delete_file_dedup": Q.DELETE_FILE_DEDUP_SQL,
        "snapshot_expiry_filter": Q.SNAPSHOT_EXPIRY_FILTER_SQL,
        "stream_sessionization": QP.STREAM_SESSIONIZATION_SQL,
        "neardup_clusters": QP.NEARDUP_CLUSTERS_SQL,
        "orphan_files_antijoin": Q.ORPHAN_FILES_ANTIJOIN_SQL,
        "minhash_band_signatures": QP.MINHASH_BAND_SIGNATURES_SQL,
        "mor_position_delete": Q.MOR_POSITION_DELETE_SQL,
        "merge_upsert_dedup": Q.MERGE_UPSERT_DEDUP_SQL,
        "exact_dedup": QP.EXACT_DEDUP_SQL,
        "ngram_jaccard_pairs": QP.NGRAM_JACCARD_PAIRS_SQL,
        "zorder_key": Q.ZORDER_KEY_SQL,
        "hilbert_key": Q.HILBERT_KEY_SQL,
        "pricing_summary": Q.PRICING_SUMMARY_SQL,
        "sessionization": Q.SESSIONIZATION_SQL,
        "hot_keys": Q.HOT_KEYS_SQL,
        "salted_aggregation": Q.SALTED_AGGREGATION_SQL,
        "topk_per_conversation": Q.TOPK_PER_CONVERSATION_SQL,
        "corpus_filter": QP.CORPUS_FILTER_SQL,
        "delete_counts": Q.DELETE_COUNTS_SQL,
        "commit_summary_rollup": Q.COMMIT_SUMMARY_ROLLUP_SQL,
        "size_histogram": Q.SIZE_HISTOGRAM_SQL,
        "group_totals": Q.GROUP_TOTALS_SQL,
        "parallelism_formula": Q.PARALLELISM_FORMULA_SQL,
    }
