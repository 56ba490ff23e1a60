"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator family from SURVEY.md §2 implemented
Spark-first (baskerville_spark package), with a DuckDB oracle in
``oracle_sql()`` computing the identical result (same column names, floats
rounded identically on both sides). Every gate has an oracle: the ``_GATES``
table at the end of this module holds one (callable, oracle) row per gate,
in driver order. Each gate's body and oracle string live in the
``baskerville_spark/gates/`` module of the operator it exercises; the gates
over the engine's own checks and runner in ``gates/validation.py``, and the
helpers gates of several modules share in ``gates/fixtures.py``.

Synthetic gate fixtures are a per-index ``plant(i)`` run through
``generator.rows_from_range``; gates measure decoded payloads only through
``audio.decode_pass``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from baskerville_spark.gates import (
    audio_dedup,
    audio_quality,
    audio_state,
    bloom,
    bpe,
    classify,
    completeness,
    consistency,
    dedup,
    drift,
    evolution,
    feature_loop,
    features,
    gbm,
    geo,
    graph,
    history,
    iforest,
    kafka_shaped,
    layout,
    multimodal,
    packing,
    registry,
    sampling,
    schema_check,
    sensitive,
    similarity,
    snapshot,
    state,
    stateful,
    stats,
    suggest,
    text,
    timegrid,
    uniqueness,
    validation,
    web,
)
from baskerville_spark.gates.fixtures import EVENT_TYPES  # noqa: F401  (perfbench reads it)


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return web.q01_request_sets(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Gate registry: one (callable, oracle) row per gate, in driver order. A
# gate's key is its callable's __name__; its oracle is the DuckDB SQL string
# its gates/ module builds at import. Adding a gate adds one row.
#
# Driver order: the correctness driver consumes queries() in insertion order
# and verifies a bounded prefix per round. q21 leads: bench.py materializes
# the first entry as its untimed warm-up, and q21's shapes (stats agg,
# uniqueness, RI join, audio decode, shared clip fixture) are the ones the
# other protocol gates reuse, so the one-time codegen / python-worker costs
# land there. q100–q144 follow (the gates with the least driver history),
# then the four oldest driver-green gates, q01–q04, as regression canaries,
# then the rest in numeric order.
# ---------------------------------------------------------------------------

_GATES = (
    (validation.q21_clip_validation, validation.Q21_SQL),
    (sampling.q100_corpus_split, sampling.Q100_SQL),
    (layout.q101_file_skipping, layout.Q101_SQL),
    (layout.q102_zorder, layout.Q102_SQL),
    (layout.q103_compaction_plan, layout.Q103_SQL),
    (drift.q104_streaming_rolling_psi, drift.Q104_SQL),
    (audio_quality.q105_split_on_silence, audio_quality.Q105_SQL),
    (text.q106_transcript_edit_distance, text.Q106_SQL),
    (audio_quality.q107_concat_roundtrip, audio_quality.Q107_SQL),
    (state.q108_enrich_with_state, state.Q108_SQL),
    (audio_dedup.q109_audio_align, audio_dedup.Q109_SQL),
    (sensitive.q110_sensitive_crypto, sensitive.Q110_SQL),
    (audio_quality.q111_bandwidth, audio_quality.Q111_SQL),
    (timegrid.q112_gap_fill, timegrid.Q112_SQL),
    (audio_dedup.q113_mulaw_roundtrip, audio_dedup.Q113_SQL),
    (bpe.q114_bpe_merges, bpe.Q114_SQL),
    (bpe.q115_bpe_tokenize, bpe.Q115_SQL),
    (dedup.q116_dedup_lines, dedup.Q116_SQL),
    (audio_quality.q117_vad_stats, audio_quality.Q117_SQL),
    (validation.q118_constraint_suite, validation.Q118_SQL),
    (validation.q119_incremental_stats, validation.Q119_SQL),
    (validation.q120_histogram_drift_state, validation.Q120_SQL),
    (validation.q121_state_table_stats, validation.Q121_SQL),
    (audio_state.q122_audio_decode_state, audio_state.Q122_SQL),
    (validation.q123_streaming_state_ingest, validation.Q123_SQL),
    (evolution.q124_schema_evolution, evolution.Q124_SQL),
    (completeness.q125_partition_completeness, completeness.Q125_SQL),
    (snapshot.q126_row_level_diff, snapshot.Q126_SQL),
    (drift.q127_psi_attribution, drift.Q127_SQL),
    (history.q128_metric_anomalies, history.Q128_SQL),
    (suggest.q129_suggest_constraints, suggest.Q129_SQL),
    (suggest.q130_functional_deps, suggest.Q130_SQL),
    (audio_quality.q131_dc_offset, audio_quality.Q131_SQL),
    (validation.q132_chi2_mix, validation.Q132_SQL),
    (drift.q133_mannwhitney, drift.Q133_SQL),
    (audio_quality.q134_channel_balance, audio_quality.Q134_SQL),
    (validation.q135_zipf_fit, validation.Q135_SQL),
    (validation.q136_spearman, validation.Q136_SQL),
    (validation.q137_mutual_info, validation.Q137_SQL),
    (validation.q138_benford, validation.Q138_SQL),
    (drift.q139_rolling_chi2, drift.Q139_SQL),
    (sampling.q140_token_budget, sampling.Q140_SQL),
    (audio_dedup.q141_label_conflicts, audio_dedup.Q141_SQL),
    (drift.q142_wasserstein_drift, drift.Q142_SQL),
    (consistency.q143_partition_spill, consistency.Q143_SQL),
    (consistency.q144_out_of_order, consistency.Q144_SQL),
    # regression canaries: the oldest driver-green gates
    (web.q01_request_sets, web.Q01_SQL),
    (web.q02_request_intervals, web.Q02_SQL),
    (web.q03_top_event_per_user, web.Q03_SQL),
    (web.q04_pivot_event_counts, web.Q04_SQL),
    (web.q05_customers_without_orders, web.Q05_SQL),
    (web.q06_building_orders_semi, web.Q06_SQL),
    (web.q07_late_shipments, web.Q07_SQL),
    (validation.q08_stats_profile, validation.Q08_SQL),
    (validation.q09_duplicate_custkeys, validation.Q09_SQL),
    (web.q10_incident_detection, web.Q10_SQL),
    (text.q11_fingerprints, text.Q11_SQL),
    (text.q12_quality_features, text.Q12_SQL),
    (text.q13_lang_id, text.Q13_SQL),
    (similarity.q14_ann_topk, similarity.Q14_SQL),
    (dedup.q15_ngram_jaccard, dedup.Q15_SQL),
    (dedup.q16_exact_dups, dedup.Q16_SQL),
    (web.q17_pricing_summary, web.Q17_SQL),
    (web.q18_top_revenue_orders, web.Q18_SQL),
    (dedup.q19_minhash_pairs, dedup.Q19_SQL),
    (dedup.q20_simhash, dedup.Q20_SQL),
    (similarity.q22_vector_pairs, similarity.Q22_SQL),
    (stateful.q23_streaming_window_counts, stateful.Q23_SQL),
    (web.q24_sessionization, web.Q24_SQL),
    (web.q25_json_props, web.Q25_SQL),
    (web.q26_rollup_counts, web.Q26_SQL),
    (web.q27_asof_prev_click, web.Q27_SQL),
    (sampling.q28_stratified_sample, sampling.Q28_SQL),
    (state.q29_state_merge, state.Q29_SQL),
    (web.q30_cube_counts, web.Q30_SQL),
    (web.q31_heavy_both_types, web.Q31_SQL),
    (similarity.q32_srp_lsh_pairs, similarity.Q32_SQL),
    (web.q33_first_last_touch, web.Q33_SQL),
    (web.q34_map_features, web.Q34_SQL),
    (dedup.q35_simhash_near_dups, dedup.Q35_SQL),
    (web.q36_session_window, web.Q36_SQL),
    (geo.q37_geo_localize, geo.Q37_SQL),
    (similarity.q38_ivf_topk, similarity.Q38_SQL),  # exact top-k on the planted-cluster corpus
    (stateful.q39_streaming_dedup, stateful.Q39_SQL),
    (multimodal.q40_image_features, multimodal.Q40_SQL),
    (multimodal.q41_video_frame_sample, multimodal.Q41_SQL),
    (uniqueness.q42_dup_exemplars, uniqueness.Q42_SQL),
    (web.q43_first_last_agg, web.Q33_SQL),  # same semantics, single-shuffle plan
    (validation.q44_drift_verdicts, validation.Q44_SQL),
    (kafka_shaped.q45_streaming_kafka_shaped, kafka_shaped.Q45_SQL),
    (validation.q46_sketch_accuracy, validation.Q46_SQL),
    (registry.q47_jdbc_segment_stats, registry.Q47_SQL),
    (validation.q48_ref_integrity, validation.Q48_SQL),
    (schema_check.q49_schema_enforce, schema_check.Q49_SQL),
    (validation.q50_pattern_violations, validation.Q50_SQL),
    (dedup.q51_normalized_dups, dedup.Q51_SQL),
    (text.q52_heavy_hitter_tokens, text.Q52_SQL),
    (features.q53_standard_scale, features.Q53_SQL),
    (features.q54_string_index, features.Q54_SQL),
    (iforest.q55_iforest_outliers, iforest.Q55_SQL),
    (gbm.q56_gbm_labeler, gbm.Q56_SQL),
    (features.q57_feature_vector, features.Q57_SQL),
    (features.q58_feature_update, features.Q58_SQL),
    (classify.q59_anomaly_thresholds, classify.Q59_SQL),
    (web.q60_challenge_commands, web.Q60_SQL),
    # same closed-form grid as q21: resume must reproduce the one-shot run
    (validation.q61_resume_verdicts, validation.Q21_SQL),
    (feature_loop.q62_feature_loop, feature_loop.Q62_SQL),
    (sensitive.q63_sensitive_roundtrip, sensitive.Q63_SQL),
    (stateful.q64_stateful_stream_stats, stateful.Q64_SQL),
    (graph.q65_dedup_clusters, graph.Q65_SQL),
    (web.q66_sliding_window_counts, web.Q66_SQL),
    (graph.q67_chain_clusters_bigstar, graph.Q67_SQL),
    (graph.q68_incremental_chain_clusters, graph.Q67_SQL),
    (dedup.q69_tfidf_cosine_pairs, dedup.Q69_SQL),
    (dedup.q70_containment_pairs, dedup.Q70_SQL),
    (text.q71_repetition_metrics, text.Q71_SQL),
    (text.q72_char_entropy, text.Q72_SQL),
    (text.q73_pii_scrub, text.Q73_SQL),
    (consistency.q74_payload_bytes, consistency.Q74_SQL),
    (consistency.q75_speaking_rate, consistency.Q75_SQL),
    (dedup.q76_decontamination, dedup.Q76_SQL),
    (packing.q77_sequence_packing, packing.Q77_SQL),
    (sampling.q78_mixture_sample, sampling.Q78_SQL),
    (packing.q79_chunk_documents, packing.Q79_SQL),
    (text.q80_vocab_oov, text.Q80_SQL),
    (stats.q81_robust_outliers, stats.Q81_SQL),
    (audio_dedup.q82_audio_content_dedup, audio_dedup.Q82_SQL),
    (audio_quality.q83_loudness_stats, audio_quality.Q83_SQL),
    (audio_quality.q84_spectral_features, audio_quality.Q84_SQL),
    (audio_quality.q85_resample, audio_quality.Q85_SQL),
    (similarity.q86_batched_topk, similarity.Q86_SQL),
    (audio_quality.q87_downmix, audio_quality.Q87_SQL),
    (audio_quality.q88_trim_silence, audio_quality.Q88_SQL),
    (audio_quality.q89_segment, audio_quality.Q89_SQL),
    (audio_quality.q90_normalize, audio_quality.Q90_SQL),
    (audio_quality.q91_overlay, audio_quality.Q91_SQL),
    (audio_quality.q92_pitch, audio_quality.Q92_SQL),
    (bloom.q93_bloom_semi, bloom.Q93_SQL),
    (snapshot.q94_snapshot_diff, snapshot.Q94_SQL),
    (snapshot.q95_incremental_revalidation, snapshot.Q95_SQL),
    (drift.q96_rolling_psi, drift.Q96_SQL),
    (drift.q97_rolling_ks, drift.Q97_SQL),
    (validation.q98_quarantine_routing, validation.Q98_SQL),
    (dedup.q99_keep_canonical, dedup.Q99_SQL),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {fn.__name__: fn for fn, _ in _GATES}


def oracle_sql() -> dict[str, str]:
    return {fn.__name__: sql for fn, sql in _GATES}
