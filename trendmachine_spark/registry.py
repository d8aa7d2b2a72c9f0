"""Query registry: named (Spark builder, DuckDB oracle) pairs.

This is the driver-contract surface (`__spark_entry__.queries()` /
``oracle_sql()``): one entry per implemented operator from SURVEY.md §2,
each Spark builder paired with ANSI SQL that DuckDB runs on the same
parquet tables. Column names and value arithmetic are kept exactly
parallel (see oracle_sql.py docstring for the float-determinism rules).

Queries whose semantics are not SQL-expressible (the O34/O35
recurrences, approximate LSH variants) register ``oracle=None`` and are
covered by FIXTURES.md goldens instead.
"""

from __future__ import annotations

# Core surface (QueryDef/register/QUERIES/shared caches); every name
# is re-exported here so `from trendmachine_spark.registry import X`
# works for all of them.
from trendmachine_spark.registry_core import (  # noqa: F401
    QueryDef,
    QUERIES,
    register,
    _CACHE,
    _shared,
    _TABLE_CACHE,
    _table,
    clear_cache,
    _daily,
    _docs,
    _embeddings,
)

# Query registration: importing each chunk executes its
# @register calls (queries() order is derived at the end of this
# module). Explicit name lists re-export every chunk-level helper
# (oracle CTE builders etc.) from this module, underscore names
# included.
from trendmachine_spark.registry_queries.captures import (  # noqa: F401
    q_capture_normalize,
    q_daily_rollup,
    q_daily_moving_avg,
    q_status_month_cube,
    q_daily_chaos,
    q_periodic_samples,
    _dense,
    q_date_spine,
    _mk_gap_fill,
    q_chaos_ffill,
    q_transition_matrix,
    q_transition_matrix_filled,
    q_monthly_rollup,
    q_status_totals,
    _summary_sql,
    q_summary_stats,
    q_content_value_counts,
    q_specimen_breakdown,
    q_first_last_capture,
    q_urim_projection,
    q_headline_metrics,
)
from trendmachine_spark.registry_queries.dedup_text import (  # noqa: F401
    MAX_LSH_BUCKET,
    MAX_SHINGLE_FREQ,
    exact_dedup,
    minhash_near_dup,
    ngram_jaccard,
    simhash,
    media_metadata,
    ann_topk,
    brute_force_topk,
    fingerprints,
    lang_id,
    quality_flags,
    text_profile,
    load_table,
    _SHINGLES_SQL,
    q_dedup_exact,
    q_dedup_exact_norm,
    _minhash_ctes,
    q_dedup_minhash_lsh,
    q_lsh_bucket_health,
    q_minhash_accuracy,
    _side_minhash_ctes,
    _INCR_U,
    q_dedup_incremental,
    q_dedup_clusters,
    q_training_corpus,
    q_dedup_ngram_jaccard,
    q_dedup_containment,
    q_dedup_simhash,
    q_dedup_simhash_near_dup,
    q_similarity_topk,
    _ann_lsh_oracle,
    q_similarity_ann_lsh,
    _TOKEN_RE_SQL,
    q_text_profile,
    q_text_quality_flags,
    q_text_lang_id,
    q_text_fingerprints,
    q_multimodal_metadata,
    q_training_corpus_safe,
    q_text_pii_stats,
    q_text_repetition_stats,
    q_corpus_decontaminate,
    q_corpus_sample_stratified,
    q_training_splits,
    q_split_leakage_report,
    q_multimodal_resize,
    q_multimodal_frame_sample,
    _cross_corpus_oracle,
    q_dedup_cross_corpus,
    _cross_corpus_health_oracle,
    q_cross_corpus_bucket_health,
    q_corpus_merge_report,
)
from trendmachine_spark.registry_queries.relational_events import (  # noqa: F401
    q_pricing_summary,
    q_shipping_priority,
    q_event_session_windows,
    q_top_revenue_customers,
    q_region_revenue,
    q_event_sessionization,
    q_event_asof_join,
    q_event_range_join,
    q_session_stats,
    q_event_props_stats,
    q_event_funnel,
    q_event_retention,
    q_event_attribution,
    q_resilience_daily_series,
    q_chaos_melt,
    q_sigmoid_preview,
    q_dedup_embedding_cosine,
    _srp_neardup_oracle,
    q_dedup_embedding_cosine_bucketed,
    q_embedding_outliers,
    q_text_term_stats,
    _QUALITY_SQL,
    q_quality_score,
    q_top_quality_docs,
    q_corpus_card,
    q_bpe_pair_stats,
    _redact_pii_sql,
    q_redact_pii,
    q_redact_pii_planted,
    q_training_shards,
    q_lm_familiarity,
)
from trendmachine_spark.registry_queries.ml_ann import (  # noqa: F401
    _bpe_train_ctes,
    _bpe_merges_oracle,
    _bpe_vocab_oracle,
    q_bpe_train_merges,
    q_bpe_segmented_vocab,
    _bpe_encode_oracle,
    q_bpe_encode,
    q_vocab_coverage,
    q_salted_term_counts,
    q_multi_param_scoring,
    q_dedup_minhash_ml,
    q_tfidf_ml,
    _ivf_refined_ctes,
    _ivf_topk_oracle,
    q_similarity_ivf_topk,
    _pq_ctes,
    _pq_adc_ctes,
    _pq_topk_oracle,
    _pq_rerank_oracle,
    _pq_rerank_auto_oracle,
    _ivfpq_topk_oracle,
    _ivfpq_residual_topk_oracle,
    _sq8_ctes,
    _sq8_topk_oracle,
    _sq8_rerank_oracle,
    q_similarity_sq8_topk,
    q_similarity_sq8_rerank,
    _sq8_filtered_oracle,
    _sq8_filtered_post_oracle,
    q_similarity_sq8_filtered,
    q_similarity_sq8_filtered_post,
    _sq8_rerank_auto_oracle,
    q_similarity_sq8_rerank_auto,
    _ivfsq8_topk_oracle,
    q_similarity_ivfsq8_topk,
    q_similarity_ivfpq_topk,
    q_similarity_ivfpq_residual_topk,
    _ivfpq_rerank_auto_oracle,
    q_similarity_ivfpq_rerank_auto,
    _PQ_INDEX_CACHE,
    q_similarity_ivfpq_index,
    _ivfpq_append_oracle,
    q_similarity_ivfpq_append,
    q_ann_serve_streaming,
    q_similarity_pq_rerank,
    q_similarity_pq_rerank_auto,
    q_similarity_pq_topk,
    q_similarity_pq256_topk,
    q_pq_distortion,
    q_pq_encode_streaming,
    q_sq8_encode_streaming,
    q_session_windows_streaming,
    q_funnel_streaming,
    q_resilience_streaming,
    q_scored_daily_streaming,
    q_dedup_streaming,
    q_neardup_streaming,
    q_corpus_mix_temperature,
)
from trendmachine_spark.registry_queries.sampling_semantic import (  # noqa: F401
    _pack_sequences_oracle,
    q_pack_sequences,
    q_packed_text,
    q_dedup_segments,
    _semantic_dedup_oracle,
    _semantic_cell_bounds,
    _semantic_cte,
    _semantic_cells,
    q_dedup_semantic,
    q_chunk_documents,
    q_corpus_stats,
    _semantic_keepers_oracle,
    q_dedup_semantic_keepers,
    _split_semantic_leakage_oracle,
    q_split_semantic_leakage,
    q_dedup_multi_signal,
    q_dedup_clusters_ensemble,
    q_training_corpus_segmented,
    q_multimodal_decode_real,
    q_multimodal_resize_real,
    q_multimodal_decode_png,
    q_multimodal_decode_jpeg,
)
from trendmachine_spark.registry_queries.multimodal_substring import (  # noqa: F401
    _phash_cte,
    _bmp_assets,
    q_multimodal_image_hash,
    q_dedup_image_phash,
    q_dedup_image_phash_near,
    q_multimodal_audio_features,
    synthetic_media_assets_audio,
    q_dedup_audio_fingerprint,
    q_multimodal_video_decode,
    q_dedup_video_frames,
    q_dedup_video_near,
    q_video_dedup_streaming,
    q_quality_score_trained,
    q_ingest_dedup_streaming,
    _window_occ_sql,
    _WINDOW_OCC_SQL,
    _substring_report_oracle,
    q_substring_dup_report,
    q_substring_dup_report_fine,
    _suffix_match_sql,
    q_dup_span_profile,
    q_dup_span_histogram,
    q_suffix_group_stats,
    q_substring_dedup,
    q_training_corpus_clean,
)


# ---------------------------------------------------------------------------
# Driver correctness-window order.
#
# The driver's per-round correctness run checks only the FIRST 50
# entries of queries() at sf0.01. QUERIES is re-keyed so that window
# holds every oracled name in _WINDOW_PINNED (new or changed this round)
# plus a cyclic slice of the rest of the oracled pool, alphabetical: the
# slice has k = 50 - len(pinned) names and starts at (_ROUND * k) %
# len(pool), so any ceil(len(pool) / k) consecutive rounds cover the
# whole pool. The rest of the pool follows, then the rows-only entries.
# CI exact-checks every oracle at sf0.001 on every run regardless
# (tests/test_oracle_parity.py), so only a scale-dependent regression
# can wait for its name's turn. A round edits two literals: bump _ROUND
# and reset _WINDOW_PINNED to the queries added or changed.
# ---------------------------------------------------------------------------

_ROUND = 14

#: new or implementation-changed this round: always inside the window
_WINDOW_PINNED: list[str] = [
    "dedup_semantic",
    "dedup_semantic_keepers",
    "split_semantic_leakage",
    "training_corpus_segmented",
    "similarity_pq_rerank_auto",
    "similarity_sq8_rerank_auto",
    "similarity_ivfpq_rerank_auto",
    "similarity_ivfpq_append",
    "ann_serve_streaming",
    "dedup_cross_corpus",
    "cross_corpus_bucket_health",
    "similarity_sq8_filtered",
    "similarity_sq8_filtered_post",
    "corpus_merge_report",
    "substring_dup_report",
    "substring_dup_report_fine",
    "dedup_segments",
    "dup_span_profile",
    "dup_span_histogram",
    "dedup_video_frames",
    "dedup_clusters",
    "training_corpus",
    "dedup_clusters_ensemble",
    "dedup_incremental",
]


def _window_order(round_no: int) -> list[str]:
    """queries() order for driver round ``round_no`` (section comment)."""
    oracled = [n for n, d in QUERIES.items() if d.oracle is not None]
    pinned = [n for n in oracled if n in _WINDOW_PINNED]
    pool = sorted(n for n in oracled if n not in _WINDOW_PINNED)
    k = 50 - len(pinned)
    assert k > 0, f"{len(pinned)} pinned names leave no window slot for the pool"
    start = (round_no * k) % len(pool)
    rows_only = [n for n, d in QUERIES.items() if d.oracle is None]
    return pinned + pool[start:] + pool[:start] + rows_only


_reordered = {n: QUERIES[n] for n in _window_order(_ROUND)}
assert len(_reordered) == len(QUERIES)
QUERIES.clear()
QUERIES.update(_reordered)
