"""Degenerate-input robustness: every representative operator must
EXECUTE on structurally-identical but EMPTY tables — returning an empty
(or zero-row-derived) result, never crashing. The failure mode this
pins: an operator that implicitly assumes >= 1 row (a first()/head
driver-side peek, a non-null aggregate, an unguarded division) would
turn a quiet upstream filter-to-nothing into a 100 TB job abort."""

from __future__ import annotations

import os

import pytest

from minimapreduce_spark import queries as q
from minimapreduce_spark.catalog import TABLES, table_path
from tests.conftest import SF_DIR

# One per family — chosen to cover scans, joins, windows, aggs, dedup,
# similarity, text, streaming-batch twins, and the pipeline ops.
REPRESENTATIVE = [
    "wordcount",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "window_topk_per_customer",
    "window_rolling_median",
    "events_sessionization",
    "events_markov_transitions",
    "sessions_peak_concurrency",
    "dedup_exact",
    "dedup_minhash",
    "doc_pair_cosine_tfidf",
    "ann_cosine_topk",
    "text_quality_score",
    "basket_part_pairs",
    "surrogate_keys_documents",
    "pack_token_batches",
    "contamination_test_train",
    "merge_upsert_customers",
    "zorder_tile_stats",
    "chi2_lang_source",
    "embedding_quantize_int8",
    "arrow_embedding_norms",
    # the sketch triad + hybrid retrieval make driver-side
    # head()/collect() peeks, which crash on empty inputs unless their
    # None/empty guards hold
    "sketch_quantile_prices",
    "sketch_cms_heavy_hitters",
    "sketch_kmv_distinct_users",
    "hybrid_rrf_retrieval",
    "hybrid_ivf_rrf_retrieval",
    "sample_dsir_importance_topk",
    "bpe_train_merges",
    "unigram_train_pieces",
    # the BPE and unigram apply queries: an empty corpus trains an
    # empty vocabulary and serves an empty accounting
    "bpe_apply_token_stats",
    "unigram_apply_token_stats",
    "ann_ivfpq_nprobe_topk",
    "agg_salted_hotkey_planted",
    "sketch_kmv_set_ops",
    "bitext_margin_mining",
    "source_influence_loo",
    "ann_hard_negative_mining",
    "ann_dim_truncation_recall",
    "dedup_ngram_containment",
    "privacy_k_anonymity",
    "multimodal_phash_dedup",
    "ab_welch_ttest",
    "sketch_hll_distinct_users",
    "skyline_price_size",
    "join_bucketed_smb",
    "probe_auc_roc",
    "probe_calibration_bins",
    "probe_kfold_cv",
    "sketch_ams_f2_join_size",
    "feature_woe_iv",
    "sketch_bloom_membership",
    "bitext_margin_mining_ivf",
    "ann_ivfpq_served_topk",
    "ann_ivfpq_append_serve",
    "multimodal_audio_spectral",
    "wordpiece_train_merges",
    "wordpiece_apply_token_stats",
    "retrieval_eval_ivf",
    "retrieval_eval_ivfpq",
    # marked WordPiece (empty corpus → empty
    # merge table / empty accounting, with no guard of its own);
    # band-index probe (empty corpus → no index, early empty frame)
    "wordpiece_train_marked",
    "wordpiece_apply_marked_stats",
    "dedup_minhash_index_probe",
    "stream_minhash_index_probe",
    "privacy_dp_geometric_release",
    "events_pattern_match",
    "events_pattern_match_windowed",
    "stream_scd2_band_history",
    "ann_bq_hamming_topk",
    "catalog_stats_lineitem",
    "catalog_stats_lineitem_prod",
    "join_skew_diagnosis",
    "incremental_join_view",
    "incremental_join_view_upserts",
    "graph_components_star",
    "dedup_clusters_adaptive",
    "minhash_index_append_probe",
    "minhash_index_compact_probe",
    "incremental_join_view_rebuild",
    "ann_ivfpq_append_served_topk",
    "stream_incremental_join_view",
    "ann_ivfpq_compact_served_topk",
    "stream_incremental_join_view_rebuild",
]


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("empty_sf"))
    for t in TABLES:
        df = spark.read.parquet(table_path(SF_DIR, t))
        df.limit(0).write.parquet(os.path.join(base, f"{t}.parquet"))
    return base


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_operator_survives_empty_tables(spark, empty_sf_dir, name):
    df = q.queries()[name](spark, empty_sf_dir)
    rows = df.collect()
    assert rows == [] or all(r is not None for r in rows)
