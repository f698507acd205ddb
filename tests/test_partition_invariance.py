"""Partition-invariance gate (the reference's n_reduce contract,
main/test-mr.sh protocol): a query's VALUES may not depend on how many
partitions computed them. Runs the newest/statistics-heavy operators
under two different shuffle widths and compares order-insensitive value
hashes.

The width flips via session conf on the SHARED fixture session —
``spark.sql.shuffle.partitions`` is read at planning time, so each
toPandas() replans under the current width. (A previous version built
and stopped its own sessions; ``getOrCreate`` returns the active one,
so the stop() tore down the suite-wide JVM for every later test.)
"""

from __future__ import annotations

import hashlib

from minimapreduce_spark import queries as q
from tests.conftest import SF_DIR

CANDIDATES = [
    "events_user_entropy",
    "events_cusum_changepoint",
    "events_autocorrelation_lag1",
    "weighted_median_price",
    "gini_revenue_inequality",
    "pareto_revenue_concentration",
    "ts_similarity_topk",
    "window_rolling_median",
    "agg_mad_user_value",
    "ols_slope_value_vs_time",
    # two-phase ordered pattern (operators/ordered.py): the range-offset
    # construction must give the SAME total order at any width
    "histogram_equidepth_prices",
    "customer_rfm_segments",
    "abc_part_classification",
    "vocab_growth_curve",
    "sessions_peak_concurrency",
    "surrogate_keys_documents",
    # iterative clustering + streaming merge
    "embedding_kmeans_lloyd",
    "stream_upsert_latest_state",
    # Arrow-batched signature stage (values must not
    # depend on mapInPandas batch boundaries), salted grouped top-k,
    # integer power iteration, quantized-log regression, CC over LSH
    "dedup_embedding_lsh",
    "per_source_quota_sample",
    "embedding_pca_power_iteration",
    "token_histogram_zipf",
    "dedup_embedding_clusters",
    "psi_value_drift",
    # content-group expansion (values must not
    # depend on which partition discovered a copy group), the chained
    # mapInPandas JPEG codec lanes, degree-ordered triangle counting,
    # streaming drift over the exact-floor binning
    "dedup_minhash",
    "dedup_simhash",
    "graph_triangle_degree_oriented",
    "multimodal_jpeg_decode",
    "stream_psi_drift",
    # the duplication-gated dedup front end (the
    # probe's verdict and both plan paths must be width-independent),
    # the watermark-bounded exactly-once drain, the 2-layer graph walk
    # (argmax/advance at both layers must not depend on task layout),
    # and an exact-grid money sum (DECIMAL accumulation is order-free
    # by construction — this pins the claim end-to-end through q1)
    "dedup_ngram_jaccard",
    "stream_exactly_once_watermarked",
    "ann_graph_hierarchical_search",
    "q1_pricing_summary",
    # the incremental batch-vs-index probe (the
    # batch semi-join and candidate dedup must be width-independent),
    # the hash-threshold mixture sample (broadcast rate table + pure
    # predicate), and the two-phase KMV bottom-K (partial collect_set
    # merge order must never change the retained set)
    "dedup_minhash_incremental",
    "mixture_token_budget_sample",
    "sketch_kmv_distinct_users",
    # PQ-ADC: codebook training (argmin ties, floor means), encode, and
    # the map-lookup fold must all be width-independent
    "ann_pq_adc_topk",
    # residual IVF-PQ: adds per-cell floor-mean centroids, the residual
    # train chain, routing ties, and the cross-term map to the above
    "ann_ivfpq_topk",
    # trained linear probe: the grid BIGINT moment sums are the entire
    # order-freedom argument — weights must not depend on task layout
    "quality_linear_probe",
    # greedy k-center: TakeOrdered argmax + integer dmin updates across
    # k driver-loop rounds must be independent of task layout
    "embedding_kcenter_coreset",
    # MMR: the cogrouped per-query greedy loop must not depend on how
    # candidate/pair rows arrive (group shuffle layout)
    "ann_mmr_rerank",
    # composed IVF→MMR: routing ties + in-cell pool cut + greedy loop,
    # end-to-end
    "ann_ivf_mmr_rerank",
    # cluster-keyed split: component labels (iterative min-label joins)
    # and the left-join fallback must be task-layout-free
    "split_leakage_safe",
    # BPE training: the per-round argmax (BIGINT weights, total-order
    # tie-break) and the vocab re-segmentation fold must be independent
    # of task layout across all k driver-loop rounds
    "bpe_train_merges",
    # CMS: integer counter sums + min folds — the sketch and every
    # estimate must be identical at any shuffle width
    "sketch_cms_heavy_hitters",
    # token lottery: min-ticket agg + global bottom-k over exact
    # integers — the drawn sample must not depend on task layout
    "sample_token_lottery_topk",
    # hybrid RRF: rounded-cosine channel ranks + integer fused scores —
    # the final ranking must not depend on task layout
    "hybrid_rrf_retrieval",
    # quantile sketch: integer histogram + two-phase running sum —
    # brackets and exact quantiles must not depend on task layout
    "sketch_quantile_prices",
    # DSIR: bucket-count aggs + quantized log-ratio table + BIGINT
    # weight sums — the selection must not depend on task layout
    "sample_dsir_importance_topk",
    # unigram-LM training: quantized-BIGINT Viterbi + vocab-scale
    # aggs — the trained piece table must not depend on task layout
    "unigram_train_pieces",
    # IVF-routed hybrid: routing + channel ranks + integer fusion —
    # the fused ranking must not depend on task layout
    "hybrid_ivf_rrf_retrieval",
    # Hilbert layout: integer state machine on the distinct grid +
    # broadcast join — tiles must not depend on task layout
    "hilbert_tile_stats",
    # multi-cell IVF-PQ routing (per-cell ADC
    # terms), salted two-stage agg under the planted hot key, theta
    # set-ops on bottom-K arrays, margin mining (matmul batch
    # boundaries + mutual ranks), LOO moment subtraction + shared-text
    # solves, hard-negative windows, the 4-dim truncation frontier,
    # directed containment expansion, the QI-domain privacy agg, and
    # the banded pHash lane
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
    # HLL: element-wise register max + order-free BIGINT Z sum — the
    # registers and the estimate must be identical at any width
    "sketch_hll_distinct_users",
    # skyline: the two-phase strictly-preceding prefix max — range
    # boundaries must never change which prices survive the sweep
    "skyline_price_size",
    # SMB join: bucket layout + exact grid sums — values must not
    # depend on bucket count vs shuffle width interplay
    "join_bucketed_smb",
    # AUC: distinct-score collapse + two-phase prefix sum + BIGINT
    # rank algebra — the metric must be identical at any width
    "probe_auc_roc",
    # CV: per-fold moment partials + total−fold subtraction + K-row
    # broadcast scoring — fold accuracies must be width-independent
    "probe_kfold_cv",
    # calibration: integer bin keys + exact grid sums per bin
    "probe_calibration_bins",
    # AMS: ±1 sign sums are plain integer addition — sketch and
    # estimate must be identical at any width
    "sketch_ams_f2_join_size",
    # WOE/IV: integer bin counts + 1-row totals broadcast
    "feature_woe_iv",
    # Bloom: bit_or is order-free; probes against the broadcast words
    "sketch_bloom_membership",
    # cell-routed bitext (cogroup matmul batch
    # boundaries + cell join layout), artifact-served IVFPQ (the
    # build-then-serve chain must be layout-free end to end), the
    # fixed-point DFT lane (mapInPandas batch boundaries), WordPiece
    # training (likelihood argmax + merge fold across k rounds) and
    # its greedy longest-match serving, and the timer-finalized
    # sessionizer (buffer order + timeout firing must not depend on
    # state-partition layout)
    "bitext_margin_mining_ivf",
    "ann_ivfpq_served_topk",
    "multimodal_audio_spectral",
    "wordpiece_train_merges",
    "wordpiece_apply_token_stats",
    "stream_sessions_timer_finalized",
    # frozen-quantizer append chain, both IR-metric
    # evals (truth + system + metric tail), the online per-micro-batch
    # serve (batch arrival layout must not change the drained union)
    "ann_ivfpq_append_serve",
    "retrieval_eval_ivf",
    "retrieval_eval_ivfpq",
    "stream_ann_serve_ivfpq",
    # multi-probe bitext: replicated cell membership + per-cell cuts +
    # distinct — the dial must not depend on task layout
    "bitext_margin_mining_ivf_nprobe",
    # marked WordPiece — position-split alphabet doubles the
    # symbol table; the likelihood argmax and position-aware serving
    # walk must be layout-free like the unmarked twins
    "wordpiece_train_marked",
    "wordpiece_apply_marked_stats",
    # band-index probe: artifact scan + batch pipeline + candidate
    # join must not depend on shuffle width (the artifact itself is
    # written once under whatever width built it)
    "dedup_minhash_index_probe",
    # online probe twin: slice probes + arrived store must be
    # layout-free like the batch twin
    "stream_minhash_index_probe",
    # DP release: hash-drawn noise is a pure per-group function;
    # pattern match: per-user string encode sorts inside array_sort
    "privacy_dp_geometric_release",
    "events_pattern_match",
    "events_pattern_match_windowed",
    # streaming SCD2: the per-batch island kernel windows by user —
    # the drained chain must be layout-free
    "stream_scd2_band_history",
    # BQ: signature aggregation + hamming windows + rescore joins —
    # integer end to end, must be width-invariant
    "ann_bq_hamming_topk",
    # catalog stats: the melt + bucketed bottom-K must be layout-free
    # (KMV bottom-K is a set operation; counts/min/max algebraic) —
    # both hash lanes
    "catalog_stats_lineitem",
    "catalog_stats_lineitem_prod",
    # skew diagnosis: count agg + TakeOrdered + broadcast census —
    # pure integers, must be width-invariant
    "join_skew_diagnosis",
    # delta-join IVM: artifact scan + three broadcast joins —
    # the maintained view must not depend on layout (both the
    # insert-only and the tombstone variant)
    "incremental_join_view",
    "incremental_join_view_upserts",
    # star components: per-round min aggregations + structural
    # convergence — the star forest must be layout-free
    "graph_components_star",
    # adaptive kernel: the probe's changed-count and the dispatch
    # decision must not depend on layout
    "dedup_clusters_adaptive",
    # index/view lifecycle rungs: compacted/rebuilt/appended artifacts
    # and the streaming CDC maintainer must all be layout-free
    "minhash_index_compact_probe",
    "incremental_join_view_rebuild",
    "ann_ivfpq_append_served_topk",
    "stream_incremental_join_view",
    "ann_ivfpq_compact_served_topk",
]


def _hashes(spark, parts: int) -> dict[str, str]:
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    out = {}
    for name in CANDIDATES:
        pdf = q.queries()[name](spark, SF_DIR).toPandas()
        pdf = pdf[sorted(pdf.columns)]
        out[name] = hashlib.sha256(
            "\n".join(
                sorted(
                    ",".join(repr(v) for v in r) for r in pdf.itertuples(index=False)
                )
            ).encode()
        ).hexdigest()
    return out


def test_values_invariant_under_shuffle_width(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        a = _hashes(spark, 2)
        b = _hashes(spark, 8)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    diffs = [n for n in CANDIDATES if a[n] != b[n]]
    assert not diffs, f"partition-dependent results: {diffs}"
